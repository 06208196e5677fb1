"""Unit tests for corpus_scale_bench.py — the replication modes must
preserve the semantics each operator family measures (VERDICT r4
item 1), or the curves measure fabricated data, not the operators —
and for the status-store stage metrics it and plan_report.py read."""

from __future__ import annotations

import importlib.util
import math
import sys
from pathlib import Path

from pyspark.sql import functions as F

import plan_report
from nyc_taxi_data_clickhouse_spark.profile import stage_rows

_spec = importlib.util.spec_from_file_location(
    "corpus_scale_bench",
    Path(__file__).resolve().parents[1] / "corpus_scale_bench.py",
)
csb = importlib.util.module_from_spec(_spec)
sys.modules.setdefault("corpus_scale_bench", csb)
_spec.loader.exec_module(csb)

SF = "/root/testdata/sf0.001"


def test_fit_slope_recovers_known_exponents():
    # t = c * f^a  ->  slope a on exact points
    for a in (0.5, 1.0, 1.7):
        pts = [(f, 3.0 * f**a) for f in (1, 4, 16, 64)]
        assert abs(csb.fit_slope(pts) - a) < 1e-9
    assert math.isnan(csb.fit_slope([(1, 2.0)]))


def test_salted_replication_disjoint_vocab_constant_dup_rate(spark, tmp_path):
    """Salted replicas must (a) keep every replica's token multiset a
    suffixed copy of the original (within-replica similarity structure
    preserved exactly) and (b) share NO tokens across replicas (no
    cross-replica near-dup pairs -> duplicate RATE constant as the
    corpus grows)."""
    out = tmp_path / "salted"
    csb._replicate_docs(spark, SF, out, factor=3, salted=True)
    rep = spark.read.parquet(str(out))
    base = spark.read.parquet(f"{SF}/documents.parquet")
    assert rep.count() == 3 * base.count()
    # doc_id remap is collision-free
    assert rep.select("doc_id").distinct().count() == rep.count()

    toks = rep.select(
        F.col("doc_id"),
        F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    # every token carries exactly one _<rep> suffix; vocab is the
    # per-replica union => disjoint across replicas
    per_rep = (
        toks.withColumn("rep", F.col("doc_id") % 3)
        .select("rep", "tok")
        .distinct()
        .groupBy("tok")
        .agg(F.count("*").alias("n_reps"))
    )
    assert per_rep.filter(F.col("n_reps") > 1).count() == 0
    # stripping the suffix recovers the original token stream sizes
    n_base_toks = (
        base.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("t"))
        .filter(F.col("t") != "")
        .count()
    )
    assert toks.count() == 3 * n_base_toks


def test_verbatim_replication_preserves_df_fractions(spark, tmp_path):
    """Verbatim replicas scale every token's document frequency and the
    corpus size by the same factor, so df/N — what the mid-frequency
    band and BM25 idf consume — is invariant."""
    out = tmp_path / "verbatim"
    csb._replicate_docs(spark, SF, out, factor=2, salted=False)
    rep = spark.read.parquet(str(out))
    base = spark.read.parquet(f"{SF}/documents.parquet")

    def df_over_n(df):
        n = df.count()
        return {
            r["tok"]: r["df"] / n
            for r in df.select(
                "doc_id",
                F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"),
            )
            .filter(F.col("tok") != "")
            .distinct()
            .groupBy("tok")
            .agg(F.count("*").alias("df"))
            .collect()
        }

    assert df_over_n(rep) == df_over_n(base)


def test_embedding_replication_unique_vectors(spark, tmp_path):
    # factor 9 > the old mod-7 period: the rep*1e-6 perturbation is
    # injective in rep, so NO two replicas of a vector may be
    # byte-identical at any factor (ADVICE r6)
    out = tmp_path / "emb"
    csb._replicate_embeddings(spark, SF, out / "embeddings.parquet", factor=9)
    rep = spark.read.parquet(str(out / "embeddings.parquet"))
    base = spark.read.parquet(f"{SF}/embeddings.parquet")
    assert rep.count() == 9 * base.count()
    assert rep.select("vec_id").distinct().count() == rep.count()
    dup = (
        rep.select(F.col("embedding").cast("string").alias("e"))
        .groupBy("e")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    assert dup == 0


def test_stage_metrics_read_with_ui_off(spark):
    """The stage metrics come from the status store, which Spark fills
    with the web UI off: a groupBy write shows up as an executed shuffle
    map stage, and its stage-totals delta is non-negative with run time
    on the clock."""
    assert spark.conf.get("spark.ui.enabled") == "false"
    before, totals0 = stage_rows(spark), csb.stage_totals(spark)
    (
        spark.range(20_000)
        .groupBy((F.col("id") % 13).alias("k"))
        .count()
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    after, totals1 = stage_rows(spark), csb.stage_totals(spark)
    executed = plan_report.executed_stage_counts(before, after)
    n_shuffle = int(executed.split(" shuffle map stage(s)")[0])
    assert n_shuffle >= 1, executed
    delta = [b - a for a, b in zip(totals0, totals1)]
    assert all(d >= 0 for d in delta), delta
    assert delta[0] > 0, delta
