"""Transitive closure over the match graph (SURVEY.md §2.E).

Implements the alternating large-star/small-star connected-components
algorithm of Kiveris et al., "Connected Components in MapReduce and Beyond"
(SoCC 2014) — O(log^2 n) rounds, each round two groupBy-join passes over the
edge table. Pure DataFrame ops; each round is cut (localCheckpoint, or a
durable stage table) to truncate Catalyst lineage (the classic
iterative-Spark requirement — without it the plan grows exponentially and
analysis stalls around round 10).

A graph with integer ids small enough to broadcast skips the rounds: the
init cut counts its canonical edges, and when they fit they come to the
driver through Arrow and a numpy min-label / pointer-jumping pass labels
them (_driver_labels). At the sizes the engine meets in one batch
(thousands of edges) the rounds cost fixed per-job overhead, not data —
44 Spark jobs for a 50-edge graph (notes #65).

Also provides min-label propagation (cc_propagate) as an independent
implementation used to cross-check results in tests.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def canonical_edges(matches: DataFrame, c1: str = "id1", c2: str = "id2") -> DataFrame:
    """E1: canonicalize to src < dst, dedupe, drop self-loops."""
    return (
        matches.select(
            F.least(F.col(c1), F.col(c2)).alias("src"),
            F.greatest(F.col(c1), F.col(c2)).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )


def _symmetrize(edges: DataFrame) -> DataFrame:
    return edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """E2: ∀u emit (v, m) for neighbors v > u, where m = min(Γ(u) ∪ {u}).

    Input must be the symmetric edge list.
    """
    m = edges.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )
    return (
        edges.join(m, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .dropDuplicates(["src", "dst"])
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """E3: ∀u over neighbors v ≤ u: m = min(Γ≤(u) ∪ {u}); emit (v, m)."""
    le = edges.filter(F.col("dst") <= F.col("src"))
    m = le.groupBy("src").agg(F.min("dst").alias("m"))
    out = (
        le.join(m, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .unionByName(m.select(F.col("src"), F.col("m").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )
    return out


def _fingerprint(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        # bit_xor: order-insensitive, overflow-free under ANSI mode
        F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _driver_bound(edges: DataFrame) -> int:
    """How many canonical edges the driver finish may collect: the
    session's broadcast threshold over the edge row width, two 8-byte ids
    (notes #65). A threshold of -1 (broadcasts off) or an id that is not
    an integer (the 128-bit struct<hi,lo> record id) gives -1, which
    keeps the round loop."""
    if not isinstance(edges.schema["src"].dataType, (T.LongType, T.IntegerType)):
        return -1
    spark = edges.sparkSession
    threshold = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    return int(threshold) // 16 if threshold > 0 else -1


def min_labels(src: np.ndarray, dst: np.ndarray, n: int) -> tuple[np.ndarray, int]:
    """Component labels for nodes 0..n-1 (label = min node index in the
    component) and the number of passes that changed a label.

    Each pass hooks every endpoint, AND the node its label names, to the
    smallest label across the edge (np.minimum.at, against the labels of
    the previous pass), then takes one pointer-jump step. A label only
    ever names a node of the same component and never rises, so at the
    fixpoint every edge joins equal labels and the component minimum,
    which is its own label, labels them all. The jump halves path
    lengths: a chain of n nodes settles in ~log2(n) passes. Hooking the
    labelled node too carries a small label up a whole label tree in one
    pass: a random 1M-node, 1M-edge graph takes 12 passes, where
    hooking endpoints alone took 1,162 (notes #65)."""
    lab = np.arange(n)
    passes = 0
    while True:
        new = lab.copy()
        ls, ld = lab[src], lab[dst]
        np.minimum.at(new, src, ld)
        np.minimum.at(new, dst, ls)
        np.minimum.at(new, ls, ld)
        np.minimum.at(new, ld, ls)
        new = new[new]
        if np.array_equal(new, lab):
            return lab, passes
        lab = new
        passes += 1


def _driver_labels(cur: DataFrame, stats: dict | None) -> DataFrame:
    """(record_id, cluster_id) of the canonical edge table `cur`, which
    the caller has sized against _driver_bound, labelled on the driver."""
    tbl = cur.toArrow()
    typ = tbl.schema.field("src").type
    ids, inv = np.unique(
        np.concatenate(
            [tbl.column(c).to_numpy().astype(np.int64) for c in ("src", "dst")]
        ),
        return_inverse=True,
    )
    m = tbl.num_rows
    lab, passes = min_labels(inv[:m], inv[m:], len(ids))
    if stats is not None:
        stats["rounds"] = passes
        stats["last_round"] = -1
    id_type = cur.schema["src"].dataType
    schema = T.StructType(
        [T.StructField("record_id", id_type), T.StructField("cluster_id", id_type)]
    )
    out = pa.table(
        [pa.array(ids, type=typ), pa.array(ids[lab], type=typ)],
        names=["record_id", "cluster_id"],
    )
    return cur.sparkSession.createDataFrame(out, schema=schema)


def connected_components(
    edges: DataFrame,
    max_rounds: int = 50,
    checkpoint_every: int = 1,
    ckpt=None,
    resume: bool = False,
    stage_prefix: str = "cc",
    stats: dict | None = None,
) -> DataFrame:
    """E2–E5: returns (record_id, cluster_id) for every node appearing in
    `edges`; cluster_id = min record_id in the component.

    Convergence: stop when the canonical edge set's (count, hash-sum)
    fingerprint is stable across a full large+small round.

    Driver finish: with ckpt=None, a canonical edge table of at most
    _driver_bound(edges) rows (the broadcast threshold over the edge row
    width) is labelled on the driver by min_labels instead — same min-id
    labels, no rounds. Larger graphs, non-integer ids (id_bits=128) and
    durable runs keep the round loop.

    Lineage truncation (VERDICT r1 item 8): each round must cut the
    Catalyst plan or analysis stalls ~round 10. Two modes:
      * ckpt=None (default) — localCheckpoint. Fast, but NOT fault-
        tolerant: executor loss on a real cluster kills the truncated
        lineage. Fine for local/bench runs.
      * ckpt=ParquetCheckpoint/IcebergCheckpoint — every round is a
        durable stage table `{stage_prefix}_round{i}`; with resume=True
        the loop fast-forwards past complete rounds, so a crash mid-
        closure (the 10^12-doc case: dozens of rounds, hours each)
        restarts at the last finished round, not at round 0.

    When `stats` (a dict) is passed, it is filled with {"rounds": number of
    large+small rounds actually executed by THIS call, "last_round": index
    of the final round table} — the warm-start tests assert a measured
    round-count drop from it. After a driver finish "rounds" counts the
    min_labels passes that changed a label and "last_round" is -1.
    """

    def _cut(name: str, df: DataFrame) -> DataFrame:
        if ckpt is None:
            return df.localCheckpoint(eager=True)
        return ckpt.write(name, df)

    cur = None
    start_round = 0
    if ckpt is not None and not resume:
        # fresh durable run: wipe EVERY stale round table first. A prior
        # run under this run_id may have converged later than this one
        # will — leftover cc_round{i} tables beyond the new convergence
        # point would be fast-forwarded over by a future resume, silently
        # returning clusters from the OLD edge set (r2 review). Wipe by
        # LISTING what is actually on disk, not range(max_rounds): a prior
        # run with a LARGER round budget left tables beyond this run's
        # range (ADVICE r2).
        ckpt.invalidate(f"{stage_prefix}_init")
        for name in ckpt.list_stages(f"{stage_prefix}_round"):
            ckpt.invalidate(name)
    if ckpt is not None and resume:
        done = 0
        while done < max_rounds and ckpt.is_complete(
            f"{stage_prefix}_round{done}"
        ):
            done += 1
        if done > 0:
            cur = ckpt.read(f"{stage_prefix}_round{done - 1}")
            start_round = done
    if cur is None:
        canon = canonical_edges(edges, "src", "dst")
        bound = _driver_bound(canon) if ckpt is None else -1
        if bound < 0:
            cur = _cut(f"{stage_prefix}_init", canon)
        else:
            # the init cut, filled lazily by an RDD count: the size check
            # IS the fill (one job, as in an eager cut) and moves no rows
            # to the driver, so a graph over the bound costs nothing extra
            cur = canon.localCheckpoint(eager=False)
            if cur._jdf.queryExecution().toRdd().count() <= bound:
                return _driver_labels(cur, stats)
    # resume note: prev_fp from the resumed table is exactly the convergence
    # test — if the next round reproduces it, the closure was already done
    prev_fp = _fingerprint(cur) if start_round > 0 else None
    last_round = start_round - 1
    for rnd in range(start_round, max_rounds):
        sym = _symmetrize(cur)
        ls = _large_star(sym)
        # small-star operates on edges oriented high→low. _large_star
        # emits (v, m) with m = min(Γ(u) ∪ {u}) ≤ u < v, so its rows are
        # ALREADY high→low and already deduplicated — the flip is an
        # identity and a re-dedup here was one pure-overhead Exchange per
        # round (r8; removed, same rows reach _small_star).
        ss = _small_star(ls)
        # _small_star emits (v, m) with m ≤ v and deduplicates
        # internally, so after the canonical least/greatest flip the rows
        # are already distinct — a second dropDuplicates was another
        # redundant Exchange per round (r8).
        cur = _cut(
            f"{stage_prefix}_round{rnd}",
            ss.select(
                F.least("src", "dst").alias("src"),
                F.greatest("src", "dst").alias("dst"),
            ),
        )
        fp = _fingerprint(cur)
        last_round = rnd
        if fp == prev_fp:
            break
        prev_fp = fp
    if ckpt is not None:
        # drop any stale rounds a previous (longer) run left beyond this
        # run's convergence point, so resume never fast-forwards past it —
        # again by listing (ADVICE r2: range(max_rounds) misses tables a
        # prior larger-budget run wrote past this run's range)
        plen = len(f"{stage_prefix}_round")
        for name in ckpt.list_stages(f"{stage_prefix}_round"):
            try:
                i = int(name[plen:])
            except ValueError:
                continue
            if i > last_round:
                ckpt.invalidate(name)
    if stats is not None:
        stats["rounds"] = last_round + 1 - start_round
        stats["last_round"] = last_round
    # At convergence every edge is (root, member) star edge with src = min.
    members = cur.select(F.col("dst").alias("record_id"), F.col("src").alias("cluster_id"))
    roots = cur.select(F.col("src").alias("record_id"), F.col("src").alias("cluster_id"))
    assign = (
        members.unionByName(roots)
        .groupBy("record_id")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )
    return assign


def cc_propagate(edges: DataFrame, max_rounds: int = 100) -> DataFrame:
    """Independent CC implementation (min-label propagation) for testing.

    label(u) ← min(label(u), min label of neighbors); iterate to fixpoint.
    O(diameter) rounds — fine for tests, not the scale path.
    """
    sym = _symmetrize(canonical_edges(edges, "src", "dst"))
    nodes = sym.select(F.col("src").alias("node")).distinct()
    labels = nodes.withColumn("label", F.col("node")).localCheckpoint(eager=True)
    for _ in range(max_rounds):
        nbr_min = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(nbr_min, labels.node == nbr_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("node").alias("record_id"), F.col("label").alias("cluster_id"))


def clusters_with_singletons(assign: DataFrame, records: DataFrame) -> DataFrame:
    """E5: extend the CC assignment to all records; singletons keep their id."""
    return (
        records.select("record_id")
        .join(assign, "record_id", "left")
        .select(
            "record_id",
            F.coalesce(F.col("cluster_id"), F.col("record_id")).alias("cluster_id"),
        )
    )
