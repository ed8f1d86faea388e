"""Fluent corpus-curation API: the user-facing front door to the
LLM-training-data tier. Each verb appends one independently
oracle-proven stage to a single LAZY plan, calling the same functions
the named queries call (operators.dedup.minhash_lsh_dedup and
near_dup_clusters, q_corpus._quality_survivor_drops,
_shared._dsir_keep and _split_80_10_10) — Catalyst sees the whole
chained pipeline and prunes columns/pushes filters across stage
boundaries, as it does for the hand-written composites.

A chain applies each verb to the docs the verbs before it kept, which
is not always the composite's rule: ``dedup_near_keep_best`` after
``quality_filter`` clusters only the quality-kept docs, while
pipe_training_prep_v3 clusters the whole corpus and then keeps the
quality-kept survivors. tests/test_corpus_api.py pins equal rows for
that chain and pipe_v3, and for ``gate_quantile`` against pipe_v7, on
the test fixture; a near-dup cluster that mixes kept and dropped
docs can make the first pair differ.

    corpus = Corpus.load(spark, sf_dir)
    report = (corpus
        .quality_filter()          # model gate (x20)
        .dedup_near_keep_best()    # LSH clusters, keep best quality (d10)
        .resample_dsir()           # domain importance resampling (x24)
        .audit_by("lang"))         # survivors per language

Every stage records provenance in ``corpus.stages`` so a run can
publish WHAT was applied next to what survived (the datasheet needs
both).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class Corpus:
    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        docs: DataFrame,
        stages: tuple[str, ...] = (),
    ):
        self.spark = spark
        self.sf_dir = sf_dir
        self._docs = docs
        self.stages = stages

    # -- construction -----------------------------------------------------

    @classmethod
    def load(cls, spark: SparkSession, sf_dir: str) -> "Corpus":
        from hi_csa_db_spark.catalog import load_table

        return cls(spark, sf_dir, load_table(spark, sf_dir, "documents"))

    def _with(self, docs: DataFrame, stage: str) -> "Corpus":
        return Corpus(self.spark, self.sf_dir, docs, self.stages + (stage,))

    def df(self) -> DataFrame:
        return self._docs

    # -- filter stages ----------------------------------------------------

    def quality_filter(self) -> "Corpus":
        """Keep docs the broadcast linear classifier accepts (x20)."""
        from hi_csa_db_spark.queries.q_corpus import x20_quality_classifier

        scored = x20_quality_classifier(self.spark, self.sf_dir).select(
            "doc_id", "n_words", "logit_micro", "keep"
        )
        kept = self._docs.join(scored.filter(F.col("keep") == 1), "doc_id")
        return self._with(kept, "quality_filter[x20]")

    def rule_filter(self) -> "Corpus":
        """Keep docs passing the Gopher-style rule gates (x12)."""
        from hi_csa_db_spark.queries.q_corpus import x12_quality_rules

        rules = x12_quality_rules(self.spark, self.sf_dir).select(
            "doc_id", F.col("keep").alias("__rk")
        )
        kept = (
            self._docs.join(rules.filter(F.col("__rk") == 1), "doc_id")
            .drop("__rk")
        )
        return self._with(kept, "rule_filter[x12]")

    def dedup_exact(self) -> "Corpus":
        """Drop exact-content duplicates, keeping the min-id copy (d1)."""
        canon = (
            self._docs.select("doc_id", F.md5("text").alias("__h"))
            .groupBy("__h")
            .agg(F.min("doc_id").alias("__keep_id"))
        )
        kept = self._docs.join(
            canon.select(F.col("__keep_id").alias("doc_id")), "doc_id"
        )
        return self._with(kept, "dedup_exact[d1]")

    def dedup_near_keep_best(self) -> "Corpus":
        """Collapse MinHash-LSH near-dup clusters keeping the BEST-
        quality member (max logit, min-id ties) — the d10 survivor
        rule, computed over the current docs with x20's scores (so
        after a filter verb it clusters the kept docs only)."""
        from hi_csa_db_spark.queries.q_corpus import _quality_survivor_drops

        _, drops = _quality_survivor_drops(self.spark, self.sf_dir, self._docs)
        kept = self._docs.join(
            drops, self._docs["doc_id"] == drops["id"], "left_anti"
        )
        return self._with(kept, "dedup_near_keep_best[d10]")

    def resample_dsir(self) -> "Corpus":
        """DSIR importance resampling toward the target domain (x24's
        pure-integer micro-weight keep rule)."""
        from hi_csa_db_spark.queries._shared import _dsir_keep, _dsir_weight_frame

        dk = _dsir_weight_frame(self.spark, self.sf_dir).filter(_dsir_keep())
        kept = self._docs.join(dk.select("doc_id"), "doc_id")
        return self._with(kept, "resample_dsir[x24]")

    def decontaminate(self) -> "Corpus":
        """Drop the held-out eval split AND every corpus doc sharing a
        5-gram with it (x80's GPT-3-style decontamination action)."""
        from hi_csa_db_spark.queries._shared import _eval_split_hits

        corpus, hits = _eval_split_hits(self._docs)
        kept = corpus.join(hits, "doc_id", "left_anti")
        return self._with(kept, "decontaminate[x80]")

    def assign_splits_cluster_safe(self) -> "Corpus":
        """Add a ``split`` column (train/val/test, 80/10/10) keyed by
        the near-dup CLUSTER label so duplicate clusters never
        straddle splits (x81's leakage-safe rule)."""
        from hi_csa_db_spark.operators import dedup
        from hi_csa_db_spark.queries._shared import _split_80_10_10

        labels = dedup.near_dup_clusters(dedup.minhash_lsh_dedup(self._docs))
        split = _split_80_10_10(F.coalesce(F.col("lbl"), F.col("doc_id")))
        tagged = (
            self._docs.join(
                labels, self._docs["doc_id"] == labels["id"], "left"
            )
            .withColumn("split", split)
            .drop("id", "lbl")
        )
        return self._with(tagged, "assign_splits_cluster_safe[x81]")

    def gate_quantile(self, keep_permille: int = 400) -> "Corpus":
        """Keep the top ``keep_permille``/1000 of each language slice
        by classifier logit: x26's self-calibrating integer quantile
        gate (queries/_shared.py::_lang_quantile_gate)."""
        from hi_csa_db_spark.queries._shared import _lang_quantile_gate
        from hi_csa_db_spark.queries.q_corpus import x20_quality_classifier

        scored = x20_quality_classifier(self.spark, self.sf_dir).select(
            "doc_id", "logit_micro"
        )
        ranked, keep = _lang_quantile_gate(
            self._docs.join(scored, "doc_id"), keep_permille
        )
        kept = ranked.filter(keep).drop("__rn", "__n", "logit_micro")
        return self._with(kept, f"gate_quantile[{keep_permille}|x26]")

    def keep_perplexity_buckets(self, buckets: tuple[str, ...] = ("head",)) -> "Corpus":
        """Keep only the named CCNet-style perplexity buckets (x42's
        per-source corpus-bigram-LM terciles; default: head only)."""
        from hi_csa_db_spark.queries.q_corpus import x42_perplexity_buckets

        b = x42_perplexity_buckets(self.spark, self.sf_dir).filter(
            F.col("bucket").isin(*buckets)
        ).select("doc_id")
        kept = self._docs.join(b, "doc_id")
        return self._with(kept, f"keep_perplexity_buckets{buckets}[x42]")

    def weight_soft_dedup(self) -> "Corpus":
        """SOFT dedup (d19): attach a ``weight_micro`` column
        (1e6 div near-dup-cluster size) instead of dropping rows —
        every duplicate cluster contributes one document's worth of
        training signal, complementary fragments survive."""
        from hi_csa_db_spark.operators import dedup

        weighted = dedup.soft_dedup_weights(self._docs).drop("cluster_size")
        return self._with(weighted, "weight_soft_dedup[d19]")

    # -- terminal reports -------------------------------------------------

    def plan_length_batches(self, batch: int = 32) -> DataFrame:
        """Terminal: x59/pipe_v6 length-bucket batch planning — docs
        grouped into power-of-two token buckets with doc counts, raw
        vs weight-scaled token totals (weight_micro defaults to 1e6
        when weight_soft_dedup hasn't run), and batch counts."""
        from hi_csa_db_spark.functions.text import tokenize
        from hi_csa_db_spark.queries._shared import _BUCKET_LADDER_SQL

        d = self._docs
        if "weight_micro" not in d.columns:
            d = d.withColumn("weight_micro", F.lit(1000000).cast("bigint"))
        t = d.select(
            "weight_micro", F.size(tokenize(F.col("text"))).alias("n_tokens")
        )
        b = t.select(
            "weight_micro", "n_tokens", F.expr(_BUCKET_LADDER_SQL).alias("bucket")
        )
        return (
            b.groupBy("bucket")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("weight_micro").cast("bigint").alias("weight_sum_micro"),
                F.sum("n_tokens").cast("bigint").alias("total_tokens"),
                F.sum(F.col("weight_micro") * F.col("n_tokens"))
                .cast("bigint")
                .alias("weighted_tokens_micro"),
                F.expr(
                    f"CAST((COUNT(1) + {batch - 1}) div {batch} AS BIGINT)"
                ).alias(f"n_batches_b{batch}"),
            )
            .select(
                F.col("bucket").cast("int").alias("bucket"),
                "n_docs",
                "weight_sum_micro",
                "total_tokens",
                "weighted_tokens_micro",
                f"n_batches_b{batch}",
            )
        )

    def pack_ffd(self, budget: int = 512) -> DataFrame:
        """Terminal: first-fit-decreasing context packing of the
        surviving docs (operators/packing.py) — (source, doc_id,
        n_tokens, bin_id)."""
        from hi_csa_db_spark.operators.packing import pack_ffd as _pack

        return _pack(self._docs, budget=budget)

    def profile(self) -> DataFrame:
        """Terminal: per-column completeness/cardinality/bounds profile
        of the SURVIVING docs (expectations.column_profile) — the
        post-curation datasheet table: (column, n_rows, n_null,
        n_distinct, min_val, max_val) for every current column,
        stringified for a uniform report type. Run it after a verb
        chain to see what the gates did to each field's distribution
        edge (e.g. n_chars min rising after a quality gate)."""
        from hi_csa_db_spark.operators.expectations import column_profile

        cols = [
            (name, F.col(name), lambda c: c.cast("string"))
            for name, _dtype in self._docs.dtypes
        ]
        return column_profile(self._docs, cols)

    def audit_by(self, col: str) -> DataFrame:
        """Survivor counts (+ token budget when available) per group."""
        aggs = [F.count(F.lit(1)).alias("n_kept")]
        if "n_words" in self._docs.columns:
            aggs.append(F.sum("n_words").alias("kept_tokens"))
        return self._docs.groupBy(col).agg(*aggs)

    def provenance(self) -> list[str]:
        return list(self.stages)
