"""The end-to-end training-data CURATION pipeline with checkpoint/resume —
the webtext twin of plans/pipeline.py's ERPipeline (same ParquetCheckpoint
machinery, same stage() resume contract, same counter surface).

documents → hygiene → quality → dedup → decontam → selected → chunks

  hygiene   url canonicalization + PII redaction + empty/NULL-text drop
  quality   heuristic features + hashed-ngram classifier logit + LM
            perplexity bucket (CCNet head/middle/tail per language) +
            the combined keep flag — checkpointed UNFILTERED so the
            drop decisions are auditable; downstream reads keep=true
  dedup     exact dedup (min-id survivor per content hash) then the
            production MinHash-LSH near-dup corpus (capped buckets → CC
            → kept corpus with dup_cluster_id / n_merged lineage)
  decontam  n-gram-overlap filter against a holdout/eval set (broadcast
            holdout keys; skipped when no holdout is configured)
  selected  DSIR importance selection against the trusted target corpus
            (deterministic greedy top-k; skipped when select_k is None)
  chunks    BPE encode-to-ids + fixed-capacity packed training chunks —
            the artifact a training run consumes

Every stage appends a checkpoint table with per-partition lineage and
row counters, so a killed run resumes from the last complete stage and
`report()` reads per-stage survival without recomputing anything.

Model artifacts (LM, DSIR weights, BPE merges/vocab) are fit ON THE
HYGIENE OUTPUT with the distributed bounded-driver-traffic fits
(fit_stupid_backoff_distributed / raw_counts_distributed /
bpe_word_freqs_distributed): deterministic pure functions of that
checkpointed table, so a resumed run refits identical artifacts from the
checkpoint instead of persisting pickled models. Production would
typically inject a prefit LM/target (CCNet fits its LM on Wikipedia, not
the pool) — pass them via CurationConfig(lm=..., dsir_target_texts=...).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.bpe import (
    build_vocab,
    bpe_encode_ids,
    bpe_word_freqs_distributed,
    fit_bpe_merges,
)
from ..functions.dsir import (
    _counts_py,
    default_target_texts,
    dsir_score_docs,
    fit_dsir_weights,
    raw_counts_distributed,
)
from ..functions.lm import (
    StupidBackoffLM,
    fit_stupid_backoff_distributed,
    lm_avg_logp10,
    lm_logprob_micro,
)
from ..functions.quality_model import quality_logit_micro, quality_model_cached
from ..functions.textqc import quality_features
from ..functions.webtext import canonical_url, redact_pii
from ..operators.dedup import exact_dup_groups, near_dup_corpus
from ..operators.decontaminate import decontaminate
from .checkpoint import ParquetCheckpoint

STAGES = ["hygiene", "quality", "dedup", "decontam", "selected", "chunks"]


def hygiene_stage(docs: DataFrame, cfg: "CurationConfig") -> DataFrame:
    """url canonicalization + PII redaction + empty/NULL-text drop — the
    per-doc stage shared by the batch and incremental pipelines."""
    cols = [F.col("doc_id")]
    if "url" in docs.columns:
        cols.append(canonical_url("url").alias("url"))
    text = redact_pii("text") if cfg.redact_pii else F.col("text")
    cols.append(text.alias("text"))
    for c in docs.columns:
        if c not in ("doc_id", "url", "text"):
            cols.append(F.col(c))
    out = docs.filter(
        F.col("text").isNotNull() & (F.length(F.trim("text")) > 0)
    ).select(*cols)
    if "lang" not in docs.columns:
        out = out.withColumn("lang", F.lit("und"))
    return out


def ntile_ppl_buckets(scored: DataFrame) -> DataFrame:
    """The BATCH bucket rule: per-language tertiles of avg_logp10 over
    THIS corpus (exact ntile on (score desc, doc_id) — the ccnet_buckets
    registry rule). Corpus-relative by construction; the incremental
    pipeline pins thresholds derived from these tiles instead
    (plans/curation_incremental.fixed_ppl_buckets)."""
    w = Window.partitionBy("lang").orderBy(
        F.col("avg_logp10").desc(), F.col("doc_id")
    )
    tile = F.ntile(3).over(w)
    return scored.withColumn(
        "ppl_bucket",
        F.when(tile == 1, "head").when(tile == 2, "middle").otherwise("tail"),
    )


def quality_audit(
    docs: DataFrame,
    cfg: "CurationConfig",
    lm: StupidBackoffLM | None,
    bucket_builder,
) -> DataFrame:
    """All quality signals + the combined keep decision, UNFILTERED (the
    audit table both the batch and incremental pipelines checkpoint).
    `bucket_builder(df_with_avg_logp10) -> df + ppl_bucket` supplies the
    perplexity-bucket rule: corpus-relative ntiles for the batch run,
    pinned thresholds for incremental batches."""
    feats = quality_features("text")
    out = docs.withColumn("n_ws_tokens", feats["n_ws_tokens"]).withColumn(
        "punct_ratio", F.round(feats["punct_ratio"], 6)
    )
    keep = (F.col("n_ws_tokens") >= cfg.min_ws_tokens) & (
        F.col("punct_ratio") <= cfg.max_punct_ratio
    )
    if cfg.use_classifier:
        weights, bias = quality_model_cached()
        out = out.withColumn(
            "quality_logit_micro", quality_logit_micro("text", weights, bias)
        )
        keep = keep & (F.col("quality_logit_micro") > 0)
    if cfg.keep_ppl_buckets:
        # name form (not F.col) so the memoized tree engages — see
        # lm_logprob_micro's cache-safety note
        s = lm_logprob_micro("text", lm)
        out = out.withColumn(
            "avg_logp10",
            F.round(lm_avg_logp10(s["n_words"], s["logp_micro"]), 6),
        )
        out = bucket_builder(out)
        keep = keep & F.col("ppl_bucket").isin(*cfg.keep_ppl_buckets)
    return out.withColumn("keep", keep)


@dataclass
class CurationConfig:
    # -- hygiene
    redact_pii: bool = True
    # -- quality gates (a doc must clear ALL enabled gates)
    min_ws_tokens: int = 5
    max_punct_ratio: float = 0.5
    use_classifier: bool = True  # hashed-ngram logit > 0
    #: CCNet buckets to keep; () disables the LM gate entirely (and the
    #: LM fit). Buckets are per-language tertiles of avg log10 prob —
    #: "tail" is the worst-perplexity third.
    keep_ppl_buckets: tuple[str, ...] = ("head", "middle")
    #: prefit LM; None = fit stupid-backoff on the hygiene output
    lm: StupidBackoffLM | None = None
    # -- near-dup corpus knobs (operators/dedup.near_dup_corpus)
    shingle_k: int = 5
    num_perm: int = 32
    bands: int = 8
    jaccard_threshold: float = 0.5
    max_bucket: int = 200
    # -- decontamination (None disables the stage)
    decontam_n: int = 8
    decontam_min_hits: int = 1
    # -- DSIR selection (both None = keep everything). select_k is the
    # exact small-k config (TakeOrdered); select_frac is the 100 TB shape
    # (approx-quantile threshold broadcast into a filter — no sort, no
    # driver materialization; see dsir_select_frac)
    select_k: int | None = None
    select_frac: float | None = None
    dsir_target_texts: tuple[str, ...] = field(
        default_factory=lambda: tuple(default_target_texts())
    )
    # -- packing
    pack: bool = True
    bpe_merges: int = 40
    seq_len: int = 128

    def __post_init__(self):
        bad = set(self.keep_ppl_buckets) - {"head", "middle", "tail"}
        if bad:
            raise ValueError(f"unknown ppl buckets {sorted(bad)}")
        if self.select_k is not None and self.select_k <= 0:
            raise ValueError("select_k must be positive or None")
        if self.select_frac is not None and not (0.0 < self.select_frac <= 1.0):
            raise ValueError("select_frac must be in (0, 1] or None")
        if self.select_k is not None and self.select_frac is not None:
            raise ValueError("set select_k OR select_frac, not both")
        if self.shingle_k > 8:
            raise ValueError(f"shingle_k must be <= 8, got {self.shingle_k}")


class CurationPipeline:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        run_id: str = "cur0",
        config: CurationConfig | None = None,
    ):
        self.spark = spark
        self.cfg = config or CurationConfig()
        self.ckpt = ParquetCheckpoint(spark, warehouse, run_id)
        self.computed_stages: list[str] = []

    # -- stage functions -------------------------------------------------

    def _hygiene(self, docs: DataFrame) -> DataFrame:
        return hygiene_stage(docs, self.cfg)

    def _quality(self, docs: DataFrame) -> DataFrame:
        """All signals + the keep decision, UNFILTERED (audit table)."""
        lm = None
        if self.cfg.keep_ppl_buckets:
            lm = self.cfg.lm or fit_stupid_backoff_distributed(docs)
        return quality_audit(docs, self.cfg, lm, ntile_ppl_buckets)

    def _dedup(self, quality: DataFrame) -> DataFrame:
        kept = quality.filter(F.col("keep")).drop("keep")
        # exact pass first: identical (normalized) text collapses on the
        # content hash (cheap groupBy) before shingling pays for the
        # near-identical ones
        groups = exact_dup_groups(kept, "doc_id", "text")
        # _persist (r8): near_dup_corpus consumes its input in three plan
        # branches (shingle/normalize, the drop-ids anti-join, the canon
        # hydration) — unpersisted, the exact-dedup groupBy+anti-join
        # subtree re-executes per branch (measured ~4s of the 14s sf0.1
        # dedup stage; grows with the corpus at 10x).
        from ..operators.dedup import _persist

        survivors = _persist(
            kept.join(
                groups.filter(~F.col("is_canonical")).select("doc_id"),
                "doc_id",
                "left_anti",
            )
        )
        return near_dup_corpus(
            survivors,
            id_col="doc_id",
            text_col="text",
            shingle_k=self.cfg.shingle_k,
            num_perm=self.cfg.num_perm,
            bands=self.cfg.bands,
            jaccard_threshold=self.cfg.jaccard_threshold,
            max_bucket=self.cfg.max_bucket,
        )

    def _decontam(
        self, corpus: DataFrame, holdout: DataFrame | None
    ) -> DataFrame:
        if holdout is None:
            return corpus
        verdict = decontaminate(
            corpus,
            holdout,
            id_col="doc_id",
            text_col="text",
            n=self.cfg.decontam_n,
            min_hits=self.cfg.decontam_min_hits,
        )
        return corpus.join(
            verdict.filter(F.col("contaminated")).select("doc_id"),
            "doc_id",
            "left_anti",
        )

    def _selected(self, corpus: DataFrame) -> DataFrame:
        if self.cfg.select_k is None and self.cfg.select_frac is None:
            return corpus
        from ..functions.dsir import DIM, dsir_select_frac

        wt = fit_dsir_weights(
            _counts_py(list(self.cfg.dsir_target_texts), DIM),
            raw_counts_distributed(corpus),
        )
        if self.cfg.select_frac is not None:
            top = dsir_select_frac(corpus, wt, self.cfg.select_frac).select(
                "doc_id", "logratio_micro"
            )
        else:
            top = (
                dsir_score_docs(corpus, wt)
                .orderBy(F.col("logratio_micro").desc(), F.col("doc_id"))
                .limit(self.cfg.select_k)
                .select("doc_id", "logratio_micro")
            )
        return corpus.join(top, "doc_id").select(
            *[F.col(c) for c in corpus.columns], "logratio_micro"
        )

    def _chunks(self, corpus: DataFrame) -> DataFrame:
        from ..operators.packing import pack_chunks

        freqs = bpe_word_freqs_distributed(corpus)
        merges = fit_bpe_merges(freqs, self.cfg.bpe_merges)
        chars = {ch for w in freqs for ch in w}
        vocab = build_vocab(merges, chars)
        ids = bpe_encode_ids(corpus, "doc_id", "text", merges, vocab)
        return pack_chunks(
            ids.filter(F.size("token_ids") > 0),
            id_col="doc_id",
            ids_col="token_ids",
            capacity=self.cfg.seq_len,
        )

    # -- orchestration ----------------------------------------------------

    def run(
        self,
        docs: DataFrame,
        holdout: DataFrame | None = None,
        resume: bool = False,
    ) -> DataFrame:
        """Run (or resume) the full curation DAG; returns the packed-chunk
        table (or the selected corpus when cfg.pack is False)."""
        if "doc_id" not in docs.columns or "text" not in docs.columns:
            raise ValueError("curation input needs doc_id and text columns")
        self.computed_stages = []
        stage = partial(
            self.ckpt.stage, resume=resume, computed=self.computed_stages
        )

        hygiene = stage("hygiene", lambda: self._hygiene(docs))
        quality = stage("quality", lambda: self._quality(hygiene))
        dedup = stage("dedup", lambda: self._dedup(quality))
        decontam = stage("decontam", lambda: self._decontam(dedup, holdout))
        selected = stage("selected", lambda: self._selected(decontam))
        if not self.cfg.pack:
            return selected
        return stage("chunks", lambda: self._chunks(selected))

    def report(self) -> dict[str, int]:
        """Per-stage surviving row counts, straight from checkpoint
        counters — no recompute. quality counts the AUDIT table (all
        hygiene rows); the post-gate count is dedup's input and can be
        read from the quality table's keep column when needed."""
        return self.ckpt.counters()
