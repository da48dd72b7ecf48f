"""ER-engine benchmark.

    python3 perfbench/run.py --workload er_batch --seed 1 --seconds 5 --trace 0

Run from the repository root. Sets up (starts a local[<cores>] session,
makes the workload's inputs from --seed), then runs closed-loop operation
cycles, the first one cold, until the workload's cycle count is reached and
at least --seconds have passed, and checks every output. The last stdout
line is one JSON object: {"correct", "attempted", "failed", "metrics"}.

--trace 0 reports the end-to-end metrics of BENCHMARK.json. --trace 1 runs
the same steps with the Spark event log on, then times isolated layer calls,
and reports the per-layer metrics. A layer the workload does not exercise
reports 0.

    python3 perfbench/run.py --smoke

runs every workload at tiny sizes in both modes and checks that every
metric named in BENCHMARK.json is emitted with its unit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COMMON_LAYERS = ("session.", "synth.", "trace.", "process.")


def _process_tree() -> dict[int, int]:
    """{pid: resident bytes} of this process and all its descendants (the
    JVM and the Python workers), from /proc."""
    page = os.sysconf("SC_PAGE_SIZE")
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(name))
        rss[int(name)] = int(fields[21]) * page
    tree, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        tree[pid] = rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return tree


class RssSampler(threading.Thread):
    """Peak of the process-tree RSS, sampled every 0.2 s."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._done = threading.Event()

    def run(self):
        while not self._done.wait(0.2):
            self.peak = max(self.peak, sum(_process_tree().values()))

    def stop(self) -> int:
        self._done.set()
        self.join()
        return self.peak


def start_session(tmp: str, cores: int, event_log: str | None = None):
    from dig_entity_resolution_spark.session import build_session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if event_log:
        # the directory must exist before the context starts; zstd (the
        # default codec) is not available, so the log is written plain
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
            }
        )
    return build_session(app_name="perfbench", cpus=cores, extra_conf=conf)


def run_cycles(wl, seconds: float):
    """Closed loop: one cycle at a time until `seconds` have passed, at
    least one. Every cycle is checked. Only the first, cold cycle is
    measured, so a faster program does not mix warm cycles into the
    metrics."""
    first, attempted, failed = None, 0, 0
    start = time.perf_counter()
    while attempted == 0 or time.perf_counter() - start < seconds:
        attempted += len(wl.OPS)
        try:
            w, ok = wl.cycle()
        except Exception:  # an operation that raises is a failed operation
            traceback.print_exc()
            failed += len(wl.OPS)
            continue
        first = first or w
        failed += sum(not v for v in ok.values())
        if not all(ok.values()):
            print(f"perfbench: wrong output {ok}", file=sys.stderr)
    if first is None:
        raise RuntimeError("every cycle raised")
    return first, attempted, failed


def measure(args, tmp: str, rss: RssSampler) -> dict:
    from workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    spec = load_spec()
    log_dir = os.path.join(tmp, "eventlog") if args.trace else None
    if log_dir:
        os.makedirs(log_dir)
    t0 = time.perf_counter()
    spark = start_session(tmp, cores, event_log=log_dir)
    session_s = time.perf_counter() - t0
    try:
        t0 = time.perf_counter()
        wl = WORKLOADS[args.workload](spark, tmp, args.seed, args.size)
        generate_s = time.perf_counter() - t0
        w, attempted, failed = run_cycles(wl, args.seconds)
        print(
            f"perfbench: {args.workload} setup {session_s + generate_s:.2f}s "
            f"(session {session_s:.2f}, inputs {generate_s:.2f}), operation walls "
            f"{ {k: round(v, 2) for k, v in w['ops'].items()} }",
            file=sys.stderr,
        )
        if not args.trace:
            metrics = {
                "setup_s": session_s + generate_s,
                "items_per_s": wl.items / w["primary"],
                "cycle_s": w["cycle"],
            }
            names = spec["end_to_end"]
        else:
            metrics, checks = wl.probes()
            attempted += len(checks)
            failed += sum(not ok for ok in checks.values())
            spark.stop()  # closes the event log
            spark = None
            metrics.update(wl.traced(w, log_dir, cores))
            metrics.update(
                {
                    "session.start_s": session_s,
                    "synth.generate_s": generate_s,
                    "trace.cycle_s": w["cycle"],
                    "process.peak_rss_mb": rss.peak / 1e6,
                }
            )
            names = spec["per_layer"]
            owned = COMMON_LAYERS + wl.LAYERS
            for m in names:
                if m["name"] not in metrics:
                    if m["name"].startswith(owned):
                        raise RuntimeError(f"{args.workload} did not emit {m['name']}")
                    metrics[m["name"]] = 0
    finally:
        if spark is not None:
            spark.stop()
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in names
        },
    }


def shutdown_jvm() -> None:
    """Stop the py4j JVM and wait until it and its Python workers exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    started = set(_process_tree()) - {os.getpid()}
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits on EOF of its stdin
    proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while any(os.path.exists(f"/proc/{pid}") for pid in started):
        if time.monotonic() > deadline:
            raise RuntimeError("Spark processes still running after shutdown")
        time.sleep(0.2)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)
    if args.smoke:
        return smoke()
    if args.workload not in {w["name"] for w in load_spec()["workloads"]}:
        ap.error(f"unknown --workload {args.workload!r}")

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(tmp, "local"))
    # everything Spark, py4j and the Python workers write stays in tmp, and
    # the workers import the package from this checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [ROOT]
    rss = RssSampler()
    if args.trace:
        rss.start()
    try:
        result = measure(args, tmp, rss)
    finally:
        if rss.is_alive():
            rss.stop()
        shutdown_jvm()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))  # left if another run still uses it
        except OSError:
            pass
    print(json.dumps(result))
    return 0


def smoke() -> int:
    """Every workload at tiny sizes, both modes: every metric of
    BENCHMARK.json is emitted, with its unit, as a finite number, and every
    output is correct."""
    spec = load_spec()
    problems = []
    for wl in spec["workloads"]:
        cycle = {}
        for trace in (0, 1):
            cmd = [
                sys.executable, os.path.abspath(__file__), "--workload", wl["name"],
                "--seed", "1", "--seconds", "1", "--trace", str(trace),
                "--size", "smoke",
            ]
            out = subprocess.run(
                cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900
            )
            tag = f"{wl['name']} --trace {trace}"
            if out.returncode != 0:
                problems.append(f"{tag}: exit {out.returncode}")
                continue
            res = json.loads(out.stdout.strip().splitlines()[-1])
            want = spec["per_layer" if trace else "end_to_end"]
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{tag}: outputs not correct: {res}")
            if set(res["metrics"]) != {m["name"] for m in want}:
                problems.append(f"{tag}: metric names differ from BENCHMARK.json")
            for m in want:
                got = res["metrics"].get(m["name"], {})
                v = got.get("value")
                if got.get("unit") != m["unit"]:
                    problems.append(f"{tag}: {m['name']} unit {got.get('unit')!r}")
                if not isinstance(v, (int, float)) or not math.isfinite(v):
                    problems.append(f"{tag}: {m['name']} value {v!r}")
                elif not trace and v <= 0:
                    problems.append(f"{tag}: {m['name']} is {v}, must be > 0")
            name = "trace.cycle_s" if trace else "cycle_s"
            cycle[trace] = res["metrics"].get(name, {}).get("value", math.nan)
        print(
            f"smoke: {wl['name']} tracing overhead "
            f"{cycle.get(1, math.nan) - cycle.get(0, math.nan):+.2f} s per cycle",
            file=sys.stderr,
        )
    for p in problems:
        print("smoke: FAIL " + p, file=sys.stderr)
    print("smoke: ok" if not problems else "smoke: failed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
