"""The benchmark's workloads.

Each workload makes its inputs from a seed, runs one closed-loop cycle of
operations at a time, checks every output, and, in the traced run, times
isolated calls into each layer's public functions from outside.

  er_batch         ERPipeline.run over a planted corpus (blocking, scoring,
                   connected components, seven checkpointed stages).
  docs_similarity  near_dup_corpus over a documents table and the exact
                   all-pairs TF-IDF cosine join over a doc subset; the traced
                   run adds a near_dup_delta + near_dup_emit batch against a
                   near_dup_init state.
"""

from __future__ import annotations

import collections
import os
import random
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dig_entity_resolution_spark.functions.minhash import minhash_signature
from dig_entity_resolution_spark.functions.normalize import (
    char_shingles,
    normalize_text,
    tokenize,
)
from dig_entity_resolution_spark.functions.similarity import (
    jaro_winkler,
    lev_similarity,
)
from dig_entity_resolution_spark.operators.blocking import (
    candidate_pairs,
    cap_block_size,
    minhash_lsh_blocks,
    prefix_blocks,
    salt_blocks,
    suppress_stop_keys,
    token_blocks,
)
from dig_entity_resolution_spark.operators.cluster import connected_components
from dig_entity_resolution_spark.operators.dedup import (
    minhash_lsh_dup_pairs,
    near_dup_corpus,
    release_caches,
)
from dig_entity_resolution_spark.operators.dedup_incremental import (
    near_dup_delta,
    near_dup_emit,
    near_dup_init,
)
from dig_entity_resolution_spark.operators.scoring import (
    hydrate_pairs,
    map_cosine,
    tfidf_maps,
    tfidf_terms,
)
from dig_entity_resolution_spark.operators.ssjoin import cosine_ssjoin
from dig_entity_resolution_spark.plans.pipeline import STAGES, ERConfig, ERPipeline
from dig_entity_resolution_spark.synth import generate_corpus

from eventlog import span_metrics


def timed(fn):
    """(fn(), wall seconds)."""
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def noop(df: DataFrame) -> None:
    """Compute every row and column of df and discard them."""
    df.write.format("noop").mode("overwrite").save()


def shingle_probes(norm: DataFrame, k: int, num_perm: int) -> dict[str, float]:
    """char_shingles alone, then minhash_signature over materialized
    shingles, on rows with a norm_text column."""
    norm = norm.filter(F.length("norm_text") > 0)
    _, shingle_s = timed(
        lambda: noop(norm.select(char_shingles("norm_text", k).alias("sh")))
    )
    sh = norm.select(char_shingles("norm_text", k).alias("sh")).localCheckpoint(
        eager=True
    )
    _, sig_s = timed(lambda: noop(sh.select(minhash_signature("sh", num_perm))))
    return {"normalize.char_shingles_s": shingle_s, "minhash.signature_s": sig_s}


class ERBatch:
    """ERPipeline.run with the default ERConfig over a generate_corpus
    planted corpus. Checked against the planted partition (truth.parquet)."""

    SIZES = {
        "full": dict(n_clusters=200, cluster_size=4, n_singletons=1200),
        "smoke": dict(n_clusters=20, cluster_size=4, n_singletons=120),
    }
    OPS = ("run",)
    LAYERS = (
        "pipeline.", "checkpoint.", "blocking.", "normalize.", "minhash.",
        "scoring.hydrate_s", "similarity.", "scoring.tfidf_cos_s",
        "scoring.pairs_per_s", "cluster.", "quality.",
    )

    def __init__(self, spark: SparkSession, tmp: str, seed: int, size: str):
        self.spark = spark
        self.wh = os.path.join(tmp, "warehouse")
        self.main = generate_corpus(
            os.path.join(tmp, "corpus"), seed=seed, **self.SIZES[size]
        )
        truth = pq.read_table(self.main["truth"]).to_pydict()
        self.truth = dict(zip(truth["url"], truth["true_cluster"]))
        self.items = len(self.truth)
        self._n = 0

    def _run(self):
        # one run's tables on disk at a time: the previous run is dropped
        shutil.rmtree(os.path.join(self.wh, f"run{self._n}"), ignore_errors=True)
        self._n += 1
        pipe = ERPipeline(self.spark, self.wh, f"run{self._n}", ERConfig())
        marks: list[tuple[str, float]] = []
        write = pipe.ckpt.write

        def marked_write(stage, df, *a, **kw):
            out = write(stage, df, *a, **kw)
            marks.append((stage, time.time()))
            return out

        pipe.ckpt.write = marked_write
        pages = self.spark.read.parquet(self.main["pages"])
        start = time.time()
        clusters, wall = timed(lambda: pipe.run(pages))
        spans, prev = [], start
        for stage, t in marks:
            spans.append((stage, prev, t))
            prev = t
        return pipe, clusters, wall, spans

    def _partition_ok(self, pipe: ERPipeline, clusters: DataFrame) -> bool:
        """The clusters partition the urls exactly as the planted truth."""
        truth = self.truth
        rows = (
            clusters.join(pipe.ckpt.read("records"), "record_id")
            .select("url", "cluster_id")
            .collect()
        )
        got = {r.url: r.cluster_id for r in rows}
        links = {(c, truth.get(u)) for u, c in got.items()}
        return (
            len(rows) == len(got)
            and got.keys() == truth.keys()
            and len(links) == len({c for c, _ in links}) == len(set(truth.values()))
        )

    def cycle(self) -> tuple[dict[str, float], dict[str, bool]]:
        pipe, clusters, wall, spans = self._run()
        self.last = (pipe, clusters)
        ok = self._partition_ok(pipe, clusters)
        walls = {"primary": wall, "cycle": wall, "ops": {"run": wall}, "spans": spans}
        return walls, {"run": ok}

    def probes(self) -> tuple[dict[str, float], dict[str, bool]]:
        pipe, clusters = self.last
        cfg, ck = pipe.cfg, pipe.ckpt
        records, raw, blocks = ck.read("records"), ck.read("blocks_raw"), ck.read("blocks")
        pairs = ck.read("cand_pairs")
        m: dict[str, float] = {}
        for name, df in (
            ("token", token_blocks(records, cfg.min_token_len)),
            ("prefix", prefix_blocks(records, cfg.prefix_n)),
            ("minhash_lsh", minhash_lsh_blocks(
                records, cfg.shingle_k, cfg.num_perm, cfg.bands)),
            ("armor", salt_blocks(
                cap_block_size(
                    suppress_stop_keys(raw, cfg.max_block_size), cfg.block_top_n
                ),
                cfg.n_salts,
            )),
            ("candidate_pairs", candidate_pairs(blocks)),
        ):
            m[f"blocking.{name}_s"] = timed(lambda df=df: noop(df))[1]
        counters = ck.counters()
        for s in STAGES:
            m[f"pipeline.{s}.rows"] = counters[s]
        m["blocking.keys"] = blocks.select("block_key").distinct().count()
        m["blocking.pairs"] = counters["cand_pairs"]
        ids = records.select("record_id", "url")
        positives = (
            self.spark.read.parquet(self.main["labels"])
            .filter("label")
            .join(ids.toDF("id1", "url1"), "url1")
            .join(ids.toDF("id2", "url2"), "url2")
            .select(F.least("id1", "id2").alias("id1"), F.greatest("id1", "id2").alias("id2"))
        )
        m["blocking.recall"] = (
            positives.join(pairs, ["id1", "id2"]).count() / positives.count()
        )
        m["blocking.yield"] = counters["edges"] / counters["cand_pairs"]
        m.update(
            shingle_probes(records.select("norm_text"), cfg.shingle_k, cfg.num_perm)
        )
        # score_pairs' own shape: records enriched with tfidf maps, hydrated,
        # spread over 3x the parallelism before the kernels
        par = self.spark.sparkContext.defaultParallelism * 3
        hydrated, m["scoring.hydrate_s"] = timed(
            lambda: hydrate_pairs(
                pairs,
                records.join(tfidf_maps(records), "record_id", "left"),
                extra_cols=("tfidf", "norm"),
            )
            .repartition(par)
            .localCheckpoint(eager=True)
        )
        for name, col in (
            ("similarity.jaro_winkler_s", jaro_winkler("text1", "text2")),
            ("similarity.lev_s", lev_similarity("text1", "text2")),
            ("scoring.tfidf_cos_s", map_cosine(
                F.col("tfidf1"), F.col("tfidf2"), F.col("norm1"), F.col("norm2"))),
        ):
            m[name] = timed(lambda col=col: noop(hydrated.select(col)))[1]
        m["cluster.cc_rounds"] = pipe.cc_stats["rounds"]
        m["cluster.cc_s"] = timed(lambda: noop(connected_components(ck.read("edges"))))[1]
        files = 0
        for s in STAGES:
            sizes = [r.bytes or 0 for r in ck.lineage(s).select("bytes").collect()]
            m[f"checkpoint.{s}.mb"] = sum(sizes) / 1e6
            files += len(sizes)
        m["checkpoint.files"] = files
        labels = self.spark.read.parquet(self.main["labels"])
        m["quality.f1"] = pipe.evaluate(clusters, labels).collect()[0]["f1"]
        self._pairs = counters["cand_pairs"]
        return m, {"f1": m["quality.f1"] == 1.0}

    def traced(self, w, log_dir: str, cores: int) -> dict[str, float]:
        """pipeline.<stage>.* of the measured run; the event log supplies the
        task metrics of each stage span."""
        stats = span_metrics(log_dir, w["spans"], cores)
        m: dict[str, float] = {}
        for s, start, end in w["spans"]:
            m[f"pipeline.{s}.wall_s"] = end - start
            for key, v in stats[s].items():
                m[f"pipeline.{s}.{key}"] = v
        m["scoring.pairs_per_s"] = self._pairs / m["pipeline.scored_pairs.wall_s"]
        return m


VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "en", "fr", "es", "de", "zh")
COSINE_T = 0.8
# pairs this close to the threshold may fall either side by summation order
COSINE_EPS = 1e-9


def reference_pairs(texts: list[str]) -> dict[tuple[int, int], float]:
    """Brute-force all-pairs TF-IDF cosine >= COSINE_T - COSINE_EPS over
    texts, indexed by position: the dense twin of tfidf_terms ->
    cosine_ssjoin. The generated texts are already normalized (lower-case
    words joined by single spaces), so their terms are text.split()."""
    terms = [t.split() for t in texts]
    col = {w: j for j, w in enumerate(sorted({w for ws in terms for w in ws}))}
    tf = np.zeros((len(texts), len(col)))
    for i, ws in enumerate(terms):
        for w in ws:
            tf[i, col[w]] += 1
    df = (tf > 0).sum(axis=0)
    vec = tf * (np.log((len(texts) + 1) / (df + 1)) + 1.0)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    cos = vec @ vec.T
    ids = np.argwhere(np.triu(cos >= COSINE_T - COSINE_EPS, k=1))
    return {(int(a), int(b)): float(cos[a, b]) for a, b in ids}


class DocsInput:
    """A seeded documents table shaped like the engine's `documents`
    fixture, plus its expected outputs.

    Documents are 10-100 words drawn uniformly from a 30-word vocabulary.
    About 5% copy an earlier original of at least 20 words and append
    " dup". Such a copy has shingle Jaccard >= 0.96 with its original, so
    MinHash-LSH (8 bands x 4 rows) misses it with probability < 1e-6, while
    two independent documents stay far below Jaccard 0.5. The kept corpus is
    therefore known exactly: one survivor (the original) per copy group.
    """

    def __init__(
        self, spark: SparkSession, path: str, seed: int,
        docs: int, delta: int, allpairs: int,
    ):
        rng = random.Random(seed)
        texts: list[str] = []
        root: list[int] = []
        originals: list[int] = []
        for i in range(docs):
            if originals and rng.random() < 0.05:
                src = rng.choice(originals)
                texts.append(texts[src] + " dup")
                root.append(src)
            else:
                n = rng.randint(10, 100)
                texts.append(" ".join(rng.choice(VOCAB) for _ in range(n)))
                root.append(i)
                if n >= 20:
                    originals.append(i)
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(range(docs), pa.int64()),
                    "text": texts,
                    "lang": [rng.choice(LANGS) for _ in range(docs)],
                    "source": [f"src{i % 20}" for i in range(docs)],
                    "n_chars": pa.array([len(t) for t in texts], pa.int64()),
                }
            ),
            path,
        )
        self.path, self.n = path, docs
        self.delta_ids = sorted(rng.sample(range(docs), delta))
        self.allpairs_max_id = allpairs
        size = collections.Counter(root)
        self.kept = {(i, i, size[i]) for i in range(docs) if root[i] == i}
        self.ref_pairs = reference_pairs(texts[:allpairs])
        self._bind(spark)

    def _bind(self, spark: SparkSession) -> None:
        docs = spark.read.parquet(self.path).repartition(
            spark.sparkContext.defaultParallelism
        )
        is_delta = F.col("doc_id").isin(self.delta_ids)
        self.docs = docs
        self.base = docs.filter(~is_delta)
        self.delta = docs.filter(is_delta)
        self.records = (
            docs.filter(F.col("doc_id") < self.allpairs_max_id)
            .select(F.col("doc_id").alias("record_id"), "text")
            .withColumn("norm_text", normalize_text("text"))
            .withColumn("tokens", tokenize("norm_text"))
        )

    def kept_ok(self, rows, subset: bool = False) -> bool:
        got = {(r.doc_id, r.dup_cluster_id, r.n_merged) for r in rows}
        return len(got) == len(rows) and (
            got <= self.kept if subset else got == self.kept
        )

    def pairs_ok(self, rows) -> bool:
        got = {(r.id1, r.id2): r.cosine for r in rows}
        if len(got) != len(rows):
            return False
        for pair, c in self.ref_pairs.items():
            if c >= COSINE_T + COSINE_EPS and pair not in got:
                return False
        return all(
            pair in self.ref_pairs and abs(self.ref_pairs[pair] - c) <= 1e-6
            for pair, c in got.items()
        )


class DocsSimilarity:
    """One cycle: near_dup_corpus over all docs, then tfidf_terms ->
    cosine_ssjoin at 0.8 over the docs with id below the all-pairs cut.
    The traced run also builds near_dup_init over all docs but a seeded
    sample, and resolves the sample with near_dup_delta + near_dup_emit."""

    SIZES = {
        "full": dict(docs=600, delta=20, allpairs=600),
        "smoke": dict(docs=500, delta=10, allpairs=100),
    }
    OPS = ("corpus", "allpairs")
    LAYERS = (
        "normalize.", "minhash.", "dedup.", "dedup_incremental.",
        "scoring.tfidf_terms_s", "ssjoin.",
    )

    def __init__(self, spark: SparkSession, tmp: str, seed: int, size: str):
        self.main = DocsInput(
            spark, os.path.join(tmp, "docs.parquet"), seed, **self.SIZES[size]
        )
        self.items = self.main.n

    def cycle(self):
        inp = self.main
        kept, corpus_s = timed(
            lambda: near_dup_corpus(inp.docs, "doc_id", "text", rebalance=False).collect()
        )
        release_caches()
        pairs, allpairs_s = timed(
            lambda: cosine_ssjoin(tfidf_terms(inp.records), COSINE_T, round_to=6).collect()
        )
        release_caches()
        self.last_kept = len(kept)
        walls = {
            "primary": corpus_s,
            "cycle": corpus_s + allpairs_s,
            "ops": {"corpus": corpus_s, "allpairs": allpairs_s},
        }
        ok = {"corpus": inp.kept_ok(kept), "allpairs": inp.pairs_ok(pairs)}
        return walls, ok

    def probes(self) -> tuple[dict[str, float], dict[str, bool]]:
        inp = self.main
        m = shingle_probes(
            inp.docs.select(normalize_text("text").alias("norm_text")), 5, 32
        )
        pairs, m["dedup.lsh_pairs_s"] = timed(
            lambda: minhash_lsh_dup_pairs(inp.docs, "doc_id", "text", rebalance=False)
            .collect()
        )
        release_caches()
        m["dedup.lsh_pairs"] = len(pairs)
        m["dedup.kept"] = self.last_kept
        terms = tfidf_terms(inp.records)
        m["scoring.tfidf_terms_s"] = timed(lambda: noop(terms))[1]
        terms = terms.localCheckpoint(eager=True)
        pairs, m["ssjoin.cosine_s"] = timed(
            lambda: cosine_ssjoin(terms, COSINE_T, round_to=6).collect()
        )
        release_caches()
        m["ssjoin.pairs"] = len(pairs)
        base_state, m["dedup_incremental.init_s"] = timed(
            lambda: near_dup_init(inp.base, "doc_id", "text")
        )
        release_caches()
        state, m["dedup_incremental.delta_s"] = timed(
            lambda: near_dup_delta(base_state, inp.delta)
        )
        touched, m["dedup_incremental.emit_s"] = timed(
            lambda: near_dup_emit(state, only_touched=True).collect()
        )
        checks = {
            "delta_touched": inp.kept_ok(touched, subset=True),
            "delta_full": inp.kept_ok(near_dup_emit(state).collect()),
        }
        release_caches()
        return m, checks

    def traced(self, w, log_dir: str, cores: int) -> dict[str, float]:
        return {"dedup.corpus_s": w["primary"]}


WORKLOADS = {"er_batch": ERBatch, "docs_similarity": DocsSimilarity}
