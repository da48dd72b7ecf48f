"""The end-to-end ER pipeline DAG with checkpoint/resume (SURVEY.md §3).

pages → records → blocks → cand_pairs → scored_pairs → edges → clusters

Each stage reads the previous stage's checkpoint table and appends its own,
so a killed run resumes from the last complete stage ([BASELINE.json:14]).
Launchable via `spark-submit --py-files er_engine.zip run_pipeline.py`.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import schemas
from ..extract import extract_text_col
from ..functions.hashing import (
    id_collisions,
    record_id128_from_url,
    record_id_from_url,
)
from ..functions.normalize import normalize_text, tokenize
from ..operators.blocking import (
    all_blocks,
    candidate_pairs,
    cap_block_size,
    salt_blocks,
    suppress_stop_keys,
)
from ..operators.cluster import (
    canonical_edges,
    clusters_with_singletons,
    connected_components,
)
from ..operators.evaluate import cluster_pairs, pairwise_prf
from ..operators.scoring import score_pairs
from .checkpoint import ParquetCheckpoint

STAGES = [
    "records",
    "blocks_raw",
    "blocks",
    "cand_pairs",
    "scored_pairs",
    "edges",
    "clusters",
]


@dataclass
class ERConfig:
    #: blocking strategies. "token"/"prefix"/"minhash_lsh" build the
    #: inverted block index; "sorted_neighborhood" (r5, VERDICT r4 item 5)
    #: is PAIR-producing — multi-pass SN windows union into cand_pairs
    #: directly, with delta-proportional incremental semantics
    #: (operators/blocking.py sorted_neighborhood_delta_pairs)
    #: "phonetic" (r7) adds Soundex/NYSIIS token codes to the inverted
    #: index — spelling-variant recall; relies on the stop-key armor
    #: (phonetic key spaces are small, so head keys are huge at scale).
    #: "similarity_join" (late r7) is PAIR-producing like SN: EXACT
    #: all-pairs shingle-Jaccard >= ssjoin_t via the prefix-filtered
    #: ssjoin — guaranteed recall at the threshold (no LSH probability),
    #: with order-invariant output so incremental == batch is an
    #: identity (operators/ssjoin.ssjoin_jaccard_touching)
    strategies: tuple[str, ...] = ("token", "prefix", "minhash_lsh")
    phonetic_encoders: tuple[str, ...] = ("soundex", "nysiis")
    ssjoin_t: float = 0.5
    ssjoin_shingle_k: int = 5
    min_token_len: int = 3
    prefix_n: int = 8
    shingle_k: int = 5
    num_perm: int = 32
    bands: int = 8
    # sorted-neighborhood knobs (used when "sorted_neighborhood" enabled):
    # window size, bucket prefix length (size to corpus — see
    # sorted_neighborhood_pairs docstring), and the sort-key passes. A key
    # named "<col>_rev" is derived on the fly as reverse(<col>) — the
    # classic second pass: a perturbation near the string HEAD scatters
    # the forward sort order but leaves the reversed order adjacent
    sn_window: int = 4
    sn_bucket_chars: int = 4
    sn_keys: tuple[str, ...] = ("norm_text", "norm_text_rev")
    max_block_size: int = 100
    block_top_n: int = 50
    n_salts: int = 16
    threshold: float = 0.80
    with_tfidf: bool = True
    weights: dict = field(
        default_factory=lambda: {"jw": 0.35, "lev_sim": 0.25, "tfidf_cos": 0.4}
    )
    use_extractor: bool = False  # True when text must be derived from html
    # record-id width (VERDICT r2 item 3): 64 = xxhash64(url), half-width
    # shuffle keys but ~27k expected silent url merges at 10^12 docs;
    # 128 = struct<hi,lo> of two seeded xxhash64 halves (collision
    # expectation < 3e-14 at that scale). Every downstream operator is
    # id-type-agnostic, so this is a pure config switch.
    id_bits: int = 64
    # run the id_collisions() gate right after the records stage and fail
    # fast when distinct urls share an id (the signal to flip id_bits=128);
    # costs one groupBy over records, so opt-in
    check_id_collisions: bool = False
    # durable_cc: truncate connected-components lineage through checkpoint
    # stage tables (cc_round{i}) instead of localCheckpoint — fault-tolerant
    # and resumable mid-closure; the right setting on a real cluster where
    # executor loss would kill localCheckpoint'ed lineage
    durable_cc: bool = False
    # scorer: "blend" (D2–D7 weighted feature blend, the default) or
    # "fellegi_sunter" (operators/fellegi_sunter.py — EM-fitted log2
    # Bayes-factor weights; score = match probability, thresholded by
    # `threshold` like the blend score). With fellegi_sunter, `fs_model`
    # optionally pins a fitted FSModel; when None the batch run EM-fits
    # on its own candidate pairs and PINS the result on the pipeline
    # (self.fs_model). run_incremental REQUIRES a pinned model — per-batch
    # refits would score later pairs under a different model than earlier
    # ones (the pinned-artifact discipline).
    scorer: str = "blend"
    fs_model: object | None = None


class ERPipeline:
    #: strategies run() understands — a typo'd name would otherwise
    #: silently contribute NOTHING (all_blocks skips unknown entries and
    #: the pipeline would resolve with whatever strategies remain)
    KNOWN_STRATEGIES = frozenset(
        {
            "token",
            "prefix",
            "minhash_lsh",
            "sorted_neighborhood",
            "phonetic",
            "similarity_join",
        }
    )

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        run_id: str = "run0",
        config: ERConfig | None = None,
    ):
        self.spark = spark
        self.cfg = config or ERConfig()
        unknown = set(self.cfg.strategies) - self.KNOWN_STRATEGIES
        if unknown:
            raise ValueError(
                f"unknown blocking strategies {sorted(unknown)}; known: "
                f"{sorted(self.KNOWN_STRATEGIES)}"
            )
        if not self.cfg.strategies:
            # an empty tuple would "succeed" with zero candidate pairs —
            # every record a singleton — which is exactly the silent
            # failure the unknown-name check exists to prevent (r5 review)
            raise ValueError("at least one blocking strategy is required")
        if "sorted_neighborhood" in self.cfg.strategies and not self.cfg.sn_keys:
            # the SN functions would crash later with a bare AttributeError
            # on None (r6 advice) — fail at construction with the real cause
            raise ValueError(
                "sorted_neighborhood strategy requires non-empty sn_keys"
            )
        if "phonetic" in self.cfg.strategies:
            bad = set(self.cfg.phonetic_encoders) - {"soundex", "nysiis"}
            if bad or not self.cfg.phonetic_encoders:
                # same construction-time discipline as the checks above
                raise ValueError(
                    f"phonetic strategy requires encoders from "
                    f"{{'soundex', 'nysiis'}}, got "
                    f"{self.cfg.phonetic_encoders!r}"
                )
        if self.cfg.scorer not in ("blend", "fellegi_sunter"):
            raise ValueError(
                f"unknown scorer {self.cfg.scorer!r}; known: blend, "
                "fellegi_sunter"
            )
        self.ckpt = ParquetCheckpoint(spark, warehouse, run_id)
        self.computed_stages: list[str] = []
        # filled by the clusters stage: {"rounds": CC rounds executed,
        # "last_round": ...} — lets tests assert the warm-start round drop
        self.cc_stats: dict = {}
        #: pinned Fellegi–Sunter model (cfg.fs_model, or the batch run's
        #: own EM fit once _scored_pairs first runs)
        self.fs_model = self.cfg.fs_model

    # -- stage functions -------------------------------------------------
    def _records(self, pages: DataFrame) -> DataFrame:
        # Recrawls: the same url can appear under several warc_ts snapshots.
        # Keep only the latest per url (deterministic hash tiebreak) —
        # duplicate record_ids would duplicate scored pairs and cluster
        # edges and inflate tp/fp/fn in pairwise_prf (ADVICE r1). The
        # streaming path already dedupes recrawls; this is the batch twin.
        # One shuffle on url, inherent to recrawl dedup; at 10^12 docs this
        # rides the same partitioning the record_id repartition needs anyway.
        payload = [c for c in ("text", "html") if c in pages.columns]
        order = (
            [F.col("warc_ts").desc(), F.xxhash64(*payload)]
            if "warc_ts" in pages.columns
            # no timestamp: still a DETERMINISTIC pick (payload-hash order)
            # — dropDuplicates would keep whichever row a task saw first,
            # so reruns/retries could resolve different snapshots (r2 rev.)
            else [F.xxhash64(*payload)]
        )
        w = Window.partitionBy("url").orderBy(*order)
        pages = (
            pages.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        text = (
            extract_text_col("html") if self.cfg.use_extractor else F.col("text")
        )
        ts = (
            F.col("warc_ts")
            if "warc_ts" in pages.columns
            else F.lit(None).cast("timestamp")
        )
        make_id = (
            record_id128_from_url
            if self.cfg.id_bits == 128
            else record_id_from_url
        )
        rec = pages.select(
            make_id("url").alias("record_id"),
            "url",
            text.alias("text"),
            "lang",
            ts.alias("warc_ts"),
        ).withColumn("norm_text", normalize_text("text"))
        return rec.select(
            "record_id", "url", "text", "norm_text",
            tokenize("norm_text").alias("tokens"), "lang", "warc_ts",
        )

    def _blocks_raw(self, records: DataFrame) -> DataFrame:
        """Per-record block keys BEFORE skew armor — the inverted index.
        Persisted as its own stage: a record's keys depend only on the
        record, so incremental batches append here and re-derive the
        frequency-dependent armor (stop-keys, caps) over the union without
        recomputing old records' keys."""
        return all_blocks(
            records,
            strategies=self.cfg.strategies,
            min_token_len=self.cfg.min_token_len,
            prefix_n=self.cfg.prefix_n,
            shingle_k=self.cfg.shingle_k,
            num_perm=self.cfg.num_perm,
            bands=self.cfg.bands,
            phonetic_encoders=self.cfg.phonetic_encoders,
        )

    def _blocks(self, raw_blocks: DataFrame) -> DataFrame:
        blocks = suppress_stop_keys(raw_blocks, self.cfg.max_block_size)
        blocks = cap_block_size(blocks, self.cfg.block_top_n)
        return salt_blocks(blocks, self.cfg.n_salts)

    def _sn_records(self, records: DataFrame) -> DataFrame:
        """Records with any configured derived SN sort keys materialized:
        a key "<col>_rev" absent from the table is reverse(<col>)."""
        for key in self.cfg.sn_keys:
            if key.endswith("_rev") and key not in records.columns:
                base_col = key[: -len("_rev")]
                records = records.withColumn(key, F.reverse(F.col(base_col)))
        return records

    def _cand_pairs(self, blocks: DataFrame, records: DataFrame) -> DataFrame:
        pairs = candidate_pairs(blocks)
        if "sorted_neighborhood" in self.cfg.strategies:
            from ..operators.blocking import sorted_neighborhood_pairs

            sn = sorted_neighborhood_pairs(
                self._sn_records(records),
                id_col="record_id",
                key_cols=self.cfg.sn_keys,
                window=self.cfg.sn_window,
                bucket_chars=self.cfg.sn_bucket_chars,
            )
            # dedup across strategies: a pair found by both an equi-block
            # and an SN window must score once, not twice
            pairs = pairs.unionByName(sn).dropDuplicates(["id1", "id2"])
        if "similarity_join" in self.cfg.strategies:
            pairs = pairs.unionByName(
                self._ssjoin_pairs(records)
            ).dropDuplicates(["id1", "id2"])
        return pairs

    def _ssjoin_records(self, records: DataFrame) -> DataFrame:
        from ..functions.normalize import char_shingles

        # empty norm_text would shingle to [''] and every pair of empty
        # documents would "match" at J = 1.0 — drop them from the join
        # input (they still flow through the pipeline as singletons)
        return records.filter(F.length("norm_text") > 0).select(
            "record_id",
            char_shingles("norm_text", self.cfg.ssjoin_shingle_k).alias("sh"),
        )

    def _ssjoin_pairs(self, records: DataFrame) -> DataFrame:
        from ..operators.ssjoin import ssjoin_jaccard

        return ssjoin_jaccard(
            self._ssjoin_records(records), self.cfg.ssjoin_t, set_col="sh"
        ).select("id1", "id2")

    def _fs_model_path(self, run_id: str | None = None) -> str:
        import os

        return os.path.join(
            self.ckpt.root, run_id or self.ckpt.run_id, "fs_model.json"
        )

    def _load_fs_model(self, run_id: str | None = None):
        """Fitted-model artifact from a run's warehouse, or None. JSON
        floats round-trip exactly (shortest-repr), so a reloaded model
        emits bit-identical micro weights."""
        import os

        from ..operators.fellegi_sunter import FSModel

        path = self._fs_model_path(run_id)
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return FSModel.from_json(f.read())

    def _scored_pairs(self, pairs: DataFrame, records: DataFrame) -> DataFrame:
        if self.cfg.scorer == "fellegi_sunter":
            import os

            from ..operators.fellegi_sunter import score_pairs_fs

            if self.fs_model is None:
                # resume case: a prior (possibly crashed) run of this
                # run_id already fit and persisted the model
                self.fs_model = self._load_fs_model()
            scored, model = score_pairs_fs(
                pairs, records, model=self.fs_model, threshold=self.cfg.threshold
            )
            # pin the (possibly just-fitted) model so every later scoring
            # call of this pipeline — resume, incremental — uses the same
            # weights, and persist it under THIS run_id so this warehouse
            # is itself a chainable base. Overwrite when the artifact
            # differs from the model actually used (a rerun of this
            # run_id with a different injected model must not leave a
            # stale file for later chained runs to silently load —
            # review find r7)
            self.fs_model = model
            path = self._fs_model_path()
            blob = model.to_json()
            current = None
            if os.path.exists(path):
                with open(path) as f:
                    current = f.read()
            if current != blob:
                os.makedirs(os.path.dirname(path), exist_ok=True)
                with open(path, "w") as f:
                    f.write(blob)
            return scored
        return score_pairs(
            pairs,
            records,
            weights=self.cfg.weights,
            threshold=self.cfg.threshold,
            with_tfidf=self.cfg.with_tfidf,
        )

    def _edges(self, scored: DataFrame) -> DataFrame:
        return canonical_edges(scored.filter(F.col("is_match")))

    def _clusters(
        self, edges: DataFrame, records: DataFrame, resume: bool = False
    ) -> DataFrame:
        self.cc_stats = {}
        assign = connected_components(
            edges,
            ckpt=self.ckpt if self.cfg.durable_cc else None,
            resume=resume,
            stats=self.cc_stats,
        )
        return clusters_with_singletons(assign, records)

    @staticmethod
    def _upgrade_records(records: DataFrame) -> DataFrame:
        """Forward-compat shim for warehouses written before the records
        stage carried warc_ts (r3): reads of an old base/resume table get a
        NULL timestamp column appended so unions, the schema gate, and
        latest-wins comparisons (NULL = 'never replaces / always replaced
        by a timestamped recrawl') keep working — mirroring checkpoint.py's
        pre-r3 meta fallback."""
        if "warc_ts" not in records.columns:
            records = records.withColumn(
                "warc_ts", F.lit(None).cast("timestamp")
            )
        return records

    def _gate_records(self, records: DataFrame) -> DataFrame:
        """Schema gate (id-width aware) + the opt-in id-collision gate:
        a 64-bit id collision silently merges distinct urls into one
        record — fail fast and tell the operator to flip id_bits=128."""
        schemas.validate_schema(
            records, schemas.records_schema(self.cfg.id_bits), "records"
        )
        if self.cfg.check_id_collisions:
            hit = id_collisions(records).limit(1).collect()
            if hit:
                raise RuntimeError(
                    f"record_id collision: id {hit[0]['record_id']} maps to "
                    f"{hit[0]['n_keys']} distinct urls — distinct pages "
                    "would silently merge. Re-run with ERConfig(id_bits=128)."
                )
        return records

    # -- orchestration ----------------------------------------------------
    def run(self, pages: DataFrame, resume: bool = False) -> DataFrame:
        """Run (or resume) the full pipeline; returns the clusters table."""
        self.computed_stages = []
        stage = partial(
            self.ckpt.stage, resume=resume, computed=self.computed_stages
        )

        records = self._gate_records(
            self._upgrade_records(stage("records", lambda: self._records(pages)))
        )
        raw = stage("blocks_raw", lambda: self._blocks_raw(records))
        blocks = stage("blocks", lambda: self._blocks(raw))
        pairs = stage("cand_pairs", lambda: self._cand_pairs(blocks, records))
        scored = stage("scored_pairs", lambda: self._scored_pairs(pairs, records))
        edges = stage("edges", lambda: self._edges(scored))
        clusters = stage(
            "clusters", lambda: self._clusters(edges, records, resume=resume)
        )
        return clusters

    def _sn_delta_pairs(
        self,
        records: DataFrame,
        delta_ids: DataFrame,
        changed_ids: DataFrame | None,
        old_records: DataFrame,
        scored_old: DataFrame,
    ) -> DataFrame:
        """Never-scored sorted-neighborhood pairs for this batch —
        delta-proportional (see sorted_neighborhood_delta_pairs for the
        monotonicity argument).

        append_only: new ids are disjoint from old ids, so every new SN
        pair touches a delta record and none can already be scored — the
        same no-anti-join argument the equi-block path uses.

        latest_wins: a replaced record's old sort position disappears,
        which can pull two OLD records into each other's window — so pairs
        of affected buckets are kept when absent from the (already
        retraction-filtered) scored table. That anti-join is restricted
        first to scored pairs with BOTH ends inside the affected buckets'
        membership, keeping it delta-proportional instead of shuffling the
        full scored table. The membership semi-joins carry NO broadcast
        hint (r5 review): membership is bounded by affected-bucket SIZE,
        not delta size — a hot key prefix can hold a large corpus
        fraction, and a forced broadcast there would blow the driver;
        AQE broadcasts when the measured size allows.
        """
        from ..operators.blocking import sorted_neighborhood_delta

        cfg = self.cfg
        records = self._sn_records(records)
        old_changed = (
            self._sn_records(
                old_records.join(changed_ids, "record_id", "left_semi")
            )
            if changed_ids is not None
            else None
        )
        sn_all, aff = sorted_neighborhood_delta(
            records,
            delta_ids,
            id_col="record_id",
            key_cols=cfg.sn_keys,
            window=cfg.sn_window,
            bucket_chars=cfg.sn_bucket_chars,
            old_affected=old_changed,
        )
        if changed_ids is None:
            return self._pairs_touching(sn_all, delta_ids)
        scored_restricted = (
            scored_old.select("id1", "id2")
            .join(
                aff.select(F.col("record_id").alias("id1")), "id1", "left_semi"
            )
            .join(
                aff.select(F.col("record_id").alias("id2")), "id2", "left_semi"
            )
        )
        return sn_all.join(scored_restricted, ["id1", "id2"], "left_anti")

    @staticmethod
    def _pairs_touching(
        pairs: DataFrame, ids: DataFrame, invert: bool = False
    ) -> DataFrame:
        """Pairs where id1 OR id2 is in `ids` — or, with invert=True, pairs
        touching NEITHER (the retraction filter). A semi/anti-join can't
        express OR; two nullable flag joins + one filter can — `ids` is the
        small per-batch delta, so AQE broadcasts both joins."""
        n1 = ids.select(F.col("record_id").alias("id1"), F.lit(True).alias("_n1"))
        n2 = ids.select(F.col("record_id").alias("id2"), F.lit(True).alias("_n2"))
        touching = F.col("_n1").isNotNull() | F.col("_n2").isNotNull()
        return (
            pairs.join(n1, "id1", "left")
            .join(n2, "id2", "left")
            .filter(~touching if invert else touching)
            .drop("_n1", "_n2")
        )

    def run_incremental(
        self,
        new_pages: DataFrame,
        base_run_id: str,
        mode: str = "append_only",
    ) -> DataFrame:
        """Resolve a NEW batch of pages against an already-resolved corpus
        (the crawl-frontier case: yesterday's 10^12 docs are settled,
        today's batch arrives).

        Cost model — every repeated stage is DELTA-PROPORTIONAL
        (VERDICT r2 item 1): blocking ARMOR (stop-keys, per-block caps,
        salts) recomputes only over the rows of block keys containing a
        delta record — a key's armor outcome depends only on its own rows,
        and old-only keys' membership is untouched — while every other key
        keeps the base run's armored rows verbatim. Candidate generation
        then semi-joins `blocks` down to those delta keys before the pair
        self-join and keeps only pairs touching a delta record. Old-only
        blocks can produce no never-scored pair under non-binding caps —
        and new record ids are disjoint from old ids, so no pair touching
        one can exist in the base scored_pairs: the corpus-wide anti-join
        of the r1/r2 design is gone entirely, as are the full-corpus cap
        window and stop-key aggregate. What remains O(corpus) per batch is
        sequential column-pruned scans (semi-join probes) and the stage
        rewrites themselves. Scoring reuses every old decision.

        Connected components WARM-START (VERDICT r2 item 2): the base
        run's converged clusters encode the transitive closure of all old
        edges as star edges (cluster_id → member); CC runs over star ∪ new
        match edges — same components as old ∪ new edges, but local
        changes converge in O(1) rounds instead of O(log² n) from scratch.

        Two recrawl semantics (VERDICT r2 item 5), chosen by `mode`:

        * mode="append_only" (default) — a url already present in the base
          corpus keeps its resolved snapshot (recrawls of known urls are
          dropped); old match decisions are never retracted, even if the
          enlarged corpus pushes a block over the stop-key cap (a batch
          re-run may then score fewer old-old pairs than this run keeps).
          For disjoint batches under non-binding caps the result is
          IDENTICAL to a batch run over the union (tested).
        * mode="latest_wins" — a recrawl with a strictly newer warc_ts
          REPLACES the base snapshot: its old record/block rows are
          dropped, every scored pair touching it is RETRACTED, and the
          record re-blocks and re-scores as part of the delta. Under
          non-binding caps this matches a from-scratch batch run with
          latest-warc_ts dedup (tested); the append-only cap caveat above
          applies here too (a key crossing a cap threshold between runs
          keeps its already-made old-old decisions).
          Costs more than append-only: retraction is non-monotone, so
          connected components cannot warm-start from the base closure —
          edges re-derive from the full scored table and CC re-runs from
          scratch (the delta-proportional blocking/scoring still applies).
          Recrawls with no/older warc_ts never replace (ties keep base).

        Writes the full stage set under THIS pipeline's run_id, so the
        output warehouse is itself a valid base for the next batch
        (chainable ingestion). Two stage tables are delta-shaped by
        design: `cand_pairs` holds only this batch's never-scored pairs,
        and in append-only mode `edges` holds the reduced (star ∪ new)
        edge set — same components, not the full pairwise match list;
        `scored_pairs` remains the full source of truth.
        """
        if base_run_id == self.ckpt.run_id:
            raise ValueError(
                "run_incremental must write under a run_id different from "
                f"base_run_id={base_run_id!r}: the base tables are read "
                "lazily while the new stages overwrite the same paths "
                "(read-under-overwrite corrupts the base corpus)"
            )
        if mode not in ("append_only", "latest_wins"):
            raise ValueError(f"unknown run_incremental mode {mode!r}")
        # scorer consistency with the base run: fs_model.json doubles as
        # the scorer marker (FS runs always persist it, blend runs never
        # do). Mixing scorers would union incomparable score columns
        # into one scored_pairs table and threshold them together —
        # refuse loudly in BOTH directions (review find r7).
        base_fs = self._load_fs_model(base_run_id)
        if self.cfg.scorer == "fellegi_sunter":
            if base_fs is None:
                raise ValueError(
                    "run_incremental with scorer='fellegi_sunter' over a "
                    f"base ({base_run_id!r}) whose warehouse has no "
                    "fs_model.json — the base's scored_pairs were not "
                    "FS-scored (or pre-date model persistence); scoring "
                    "this batch with FS would mix incompatible score "
                    "models in one table"
                )
            if self.fs_model is None:
                # chained ingestion recovers the pinned weights without
                # manual re-injection
                self.fs_model = base_fs
        elif base_fs is not None:
            raise ValueError(
                f"base run {base_run_id!r} was scored with "
                "fellegi_sunter (its warehouse persists fs_model.json) "
                "but this pipeline uses scorer="
                f"{self.cfg.scorer!r} — set scorer='fellegi_sunter' (the "
                "pinned model loads automatically)"
            )
        base = ParquetCheckpoint(self.spark, self.ckpt.root, base_run_id)
        ck = self.ckpt
        self.computed_stages = list(STAGES)

        old_records = self._upgrade_records(base.read("records"))
        rec_batch = self._records(new_pages)  # latest-per-url within batch
        if mode == "latest_wins":
            # latest_wins consumes rec_batch from THREE branches (new-id
            # anti-join, recrawl detection, changed slice); materialize it
            # once so the normalization/tokenization doesn't run per branch
            # (ENGINEERING_NOTES #17) — and the batch snapshot is auditable
            rec_batch = ck.write("batch_records", rec_batch)
        rec_new = rec_batch.join(
            old_records.select("record_id"), "record_id", "left_anti"
        )
        if mode == "latest_wins":
            # record_id is a pure function of url, so an id present in both
            # IS a recrawl; it replaces the base snapshot iff strictly newer
            changed_ids = (
                rec_batch.alias("n")
                .join(old_records.alias("o"), "record_id")
                .filter(
                    F.col("n.warc_ts").isNotNull()
                    & (
                        F.col("o.warc_ts").isNull()
                        | (F.col("n.warc_ts") > F.col("o.warc_ts"))
                    )
                )
                .select("record_id")
            )
            rec_changed = rec_batch.join(changed_ids, "record_id", "left_semi")
            old_keep = old_records.join(changed_ids, "record_id", "left_anti")
            records = ck.write(
                "records", old_keep.unionByName(rec_new.unionByName(rec_changed))
            )
        else:
            changed_ids = None
            records = ck.write("records", old_records.unionByName(rec_new))
        self._gate_records(records)
        # re-slice the delta from the written table (one source of truth;
        # avoids recomputing normalization off new_pages lineage). In
        # latest-wins the changed rows in `records` ARE the new snapshots,
        # so slicing by id picks them up correctly.
        new_only = records.join(
            old_records.select("record_id"), "record_id", "left_anti"
        )
        if changed_ids is not None:
            delta_recs = new_only.unionByName(
                records.join(changed_ids, "record_id", "left_semi")
            )
            raw_keep = base.read("blocks_raw").join(
                changed_ids, "record_id", "left_anti"
            )
        else:
            delta_recs = new_only
            raw_keep = base.read("blocks_raw")
        raw = ck.write(
            "blocks_raw", raw_keep.unionByName(self._blocks_raw(delta_recs))
        )
        # armor re-derivation, delta-keyed (r3 self-review): a block key's
        # stop-key/cap/salt outcome depends only on ITS OWN rows, and
        # old-only keys' membership is untouched by the batch — so recompute
        # armor over the rows of keys containing a delta record and keep the
        # base run's armored rows for every other key. This removes the two
        # remaining full-corpus shuffles (the per-block cap window and the
        # stop-key aggregate) from the per-batch cost; in latest_wins a
        # replaced record's old keys are delta keys too (its old raw rows
        # were dropped above, so the recompute sees the post-replacement
        # membership).
        delta_ids = delta_recs.select("record_id")
        if changed_ids is not None:
            # a replaced record's OLD keys also need re-armoring (their
            # membership shrank) — those keys exist only in the BASE raw
            # index, since the replacement's rows were dropped from `raw`
            key_source = raw.unionByName(base.read("blocks_raw"))
        else:
            key_source = raw
        delta_raw_keys = (
            key_source.join(delta_ids, "record_id", "left_semi")
            .select("block_key")
            .distinct()
        )
        blocks_keep = base.read("blocks").join(
            delta_raw_keys, "block_key", "left_anti"
        )
        blocks_delta = self._blocks(
            raw.join(delta_raw_keys, "block_key", "left_semi")
        )
        blocks = ck.write("blocks", blocks_keep.unionByName(blocks_delta))
        # delta restriction: pair-join only blocks containing a delta
        # record, keep only pairs touching one (see docstring cost model)
        delta_keys = (
            blocks.join(delta_ids, "record_id", "left_semi")
            .select("block_key")
            .distinct()
        )
        delta_blocks = blocks.join(delta_keys, "block_key", "left_semi")
        scored_old = base.read("scored_pairs")
        if changed_ids is not None:
            # RETRACT every decision touching a replaced snapshot — those
            # pairs regenerate through the delta blocks and rescore against
            # the new text (or disappear if the new text no longer blocks)
            scored_old = self._pairs_touching(scored_old, changed_ids, invert=True)
        new_pairs = self._pairs_touching(candidate_pairs(delta_blocks), delta_ids)
        if "sorted_neighborhood" in self.cfg.strategies:
            new_pairs = new_pairs.unionByName(
                self._sn_delta_pairs(
                    records, delta_ids, changed_ids, old_records, scored_old
                )
            ).dropDuplicates(["id1", "id2"])
        if "similarity_join" in self.cfg.strategies:
            from ..operators.ssjoin import ssjoin_jaccard_touching

            # exact delta form: every J >= t pair touching a delta record
            # (append-only: new ids were never scored; latest_wins:
            # decisions touching changed ids were retracted above) — the
            # verified pair set is order-invariant, so base ∪ delta equals
            # the from-scratch run identically
            sj = ssjoin_jaccard_touching(
                self._ssjoin_records(records),
                delta_ids,
                self.cfg.ssjoin_t,
                set_col="sh",
            ).select("id1", "id2")
            new_pairs = new_pairs.unionByName(sj).dropDuplicates(
                ["id1", "id2"]
            )
        todo = ck.write("cand_pairs", new_pairs)
        scored = ck.write(
            "scored_pairs",
            scored_old.unionByName(self._scored_pairs(todo, records)),
        )
        if changed_ids is None:
            # warm-start CC: base clusters → star edges (already canonical:
            # cluster_id = min member id < member id), plus new match edges
            star = (
                base.read("clusters")
                .filter(F.col("cluster_id") != F.col("record_id"))
                .select(
                    F.col("cluster_id").alias("src"),
                    F.col("record_id").alias("dst"),
                )
            )
            new_edges = self._edges(self._pairs_touching(scored, delta_ids))
            edges = ck.write(
                "edges", star.unionByName(new_edges).dropDuplicates(["src", "dst"])
            )
        else:
            # retraction may SPLIT base clusters — the base closure is no
            # longer an under-approximation, so no warm start: re-derive
            # the full edge set from the (retraction-filtered) scored table
            edges = ck.write("edges", self._edges(scored))
        return ck.write("clusters", self._clusters(edges, records))

    def calibrate(self, labels_by_url: DataFrame, grid: int = 100) -> tuple[float, float]:
        """Sweep the match threshold against url-keyed labels using the
        checkpointed scored_pairs table; returns (best_tau, best_f1).
        One distributed histogram pass — see operators.calibrate."""
        from ..operators.calibrate import calibrate_threshold

        records = self.ckpt.read("records").select("record_id", "url")
        l1 = records.select(F.col("url").alias("url1"), F.col("record_id").alias("id1"))
        l2 = records.select(F.col("url").alias("url2"), F.col("record_id").alias("id2"))
        labels = labels_by_url.join(l1, "url1").join(l2, "url2").select(
            F.least("id1", "id2").alias("id1"),
            F.greatest("id1", "id2").alias("id2"),
            "label",
        )
        scored = self.ckpt.read("scored_pairs")
        return calibrate_threshold(scored, labels, grid)

    def evaluate(self, clusters: DataFrame, labels_by_url: DataFrame) -> DataFrame:
        """F1 on url-keyed labels (url1, url2, label): map urls → record ids
        via the records table, predictions = all intra-cluster pairs."""
        records = self.ckpt.read("records").select("record_id", "url")
        l1 = records.select(
            F.col("url").alias("url1"), F.col("record_id").alias("id1")
        )
        l2 = records.select(
            F.col("url").alias("url2"), F.col("record_id").alias("id2")
        )
        labels = labels_by_url.join(l1, "url1").join(l2, "url2").select(
            "id1", "id2", "label"
        )
        return pairwise_prf(cluster_pairs(clusters), labels)
