"""Checkpoint/resume, lineage, salted rollup and streaming tests.

Resume contract (BASELINE.md): a killed run replays only incomplete
splits and the final output is identical to an uninterrupted run.
"""

import json
import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from quality_filter.corpus import generate_pages, pages_spark_schema
from quality_filter.io.checkpoint import Manifest, list_splits, partition_lineage, run_with_resume
from quality_filter.io.pages import write_pages_partitioned
from quality_filter.metrics import corpus_summary, salted_host_rollup
from quality_filter.pipeline import tiered_scored

from tests.test_spark_pipeline import spark  # session fixture  # noqa: F401


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pages_part"))
    pdf = generate_pages(300, seed=88, days=3).drop(columns=["cls"])
    sdf = spark.createDataFrame(pdf, schema=pages_spark_schema())
    write_pages_partitioned(sdf, d)
    return d


def test_partitioned_layout_and_split_listing(spark, pages_dir):
    subdirs = sorted(p for p in os.listdir(pages_dir) if p.startswith("warc_dt="))
    assert len(subdirs) == 3
    assert list_splits(spark, pages_dir) == [s.split("=")[1] for s in subdirs]


def test_resume_processes_only_pending(spark, pages_dir, tmp_path):
    out_a = str(tmp_path / "out_a")
    man_a = str(tmp_path / "man_a.jsonl")
    # uninterrupted run
    full = run_with_resume(spark, pages_dir, out_a, man_a)
    assert full["splits_skipped"] == 0 and len(full["splits_processed"]) == 3

    # "killed" run: first split already committed, two pending
    out_b = str(tmp_path / "out_b")
    man_b = str(tmp_path / "man_b.jsonl")
    splits = list_splits(spark, pages_dir)
    run_with_resume(spark, pages_dir, out_b, man_b)  # prime: full run into out_b
    # rewrite the manifest as if the run died right after split 0 committed
    recs = Manifest(man_b).records()
    os.remove(man_b)
    m = Manifest(man_b)
    m.mark_done([r for r in recs if r["split"] == splits[0]][0])
    resumed = run_with_resume(spark, pages_dir, out_b, man_b)
    assert resumed["splits_skipped"] == 1
    assert resumed["splits_processed"] == splits[1:]

    # identical final output
    a = spark.read.parquet(out_a).drop("warc_dt").toPandas().sort_values("url").reset_index(drop=True)
    b = spark.read.parquet(out_b).drop("warc_dt").toPandas().sort_values("url").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)

    # manifest carries lineage metrics
    for rec in Manifest(man_a).records():
        assert rec["rows_out"] == sum(rec["by_status"].values())
        assert rec["wall_sec"] > 0 and rec["engine_version"]


def test_resume_lineage_without_output_reread(spark, pages_dir, tmp_path, monkeypatch):
    """Manifest metrics come from observe() on the write, not from
    re-reading the committed output (the old read-back doubled sink-side
    I/O per split).  Spy on DataFrameReader.parquet: no path under the
    output dir may be read during the run."""
    from pyspark.sql.readwriter import DataFrameReader

    out = str(tmp_path / "out_obs")
    man = str(tmp_path / "man_obs.jsonl")
    read_paths: list[str] = []
    orig = DataFrameReader.parquet

    def spy(self, *paths, **kw):
        read_paths.extend(str(p) for p in paths)
        return orig(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    run_with_resume(spark, pages_dir, out, man)
    assert not [p for p in read_paths if p.startswith(out)], read_paths
    recs = Manifest(man).records()
    assert len(recs) == 3
    for rec in recs:
        assert rec["rows_out"] == sum(rec["by_status"].values()) > 0


def _resume_with_done(spark, pages_dir, out, man, done):
    """run_with_resume into ``out`` after recording ``done`` splits as
    completed in a fresh manifest (the state a killed run leaves)."""
    m = Manifest(man)
    m.mark_done(*[{"split": s} for s in done])
    return run_with_resume(spark, pages_dir, out, man)


def test_resume_is_one_job_whatever_the_pending_count(spark, pages_dir, tmp_path):
    """All pending splits are written by one job: resuming 1 pending
    split and resuming 3 launch the same number of Spark jobs, so a
    per-split loop (one job, plan build and task tail per split) cannot
    come back unnoticed."""
    sc = spark.sparkContext
    splits = list_splits(spark, pages_dir)
    jobs = {}
    for name, done in (("one", splits[:2]), ("three", [])):
        group = f"resume_jobs_{name}"
        sc.setJobGroup(group, group)
        try:
            summary = _resume_with_done(
                spark, pages_dir, str(tmp_path / f"out_{name}"),
                str(tmp_path / f"man_{name}.jsonl"), done,
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert summary["splits_processed"] == [s for s in splits if s not in done]
        jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs["one"] == jobs["three"] > 0, jobs


def _dir_bytes(d):
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = fh.read()
    return out


def test_resume_replaces_pending_dirs_and_leaves_completed_untouched(
    spark, pages_dir, tmp_path
):
    """Dynamic partition overwrite: a stale half-written file in a
    PENDING split's dir is replaced by the resumed run, while a completed
    split's dir — marker file included — stays byte-identical."""
    out = str(tmp_path / "out_dyn")
    splits = list_splits(spark, pages_dir)
    run_with_resume(spark, pages_dir, out, str(tmp_path / "man_full.jsonl"))

    done_dir = os.path.join(out, f"warc_dt={splits[0]}")
    pend_dir = os.path.join(out, f"warc_dt={splits[1]}")
    with open(os.path.join(done_dir, "_marker"), "w") as f:
        f.write("completed split, must survive")
    stale = os.path.join(pend_dir, "part-99999-stale.parquet")
    with open(stale, "wb") as f:
        f.write(b"PAR1 half-written")
    before = _dir_bytes(done_dir)

    summary = _resume_with_done(
        spark, pages_dir, out, str(tmp_path / "man_resume.jsonl"), splits[:1]
    )
    assert summary["splits_processed"] == splits[1:]
    assert not os.path.exists(stale)
    assert _dir_bytes(done_dir) == before
    # every split readable again, no row lost or duplicated
    assert spark.read.parquet(out).count() == 300


def test_resume_output_dirs_hold_their_splits_urls(spark, pages_dir, tmp_path):
    """Each output ``warc_dt=<day>`` dir holds exactly the urls of input
    split <day>: the write's split key is the input's partition
    transform."""
    out = str(tmp_path / "out_urls")
    run_with_resume(spark, pages_dir, out, str(tmp_path / "man_urls.jsonl"))
    want = (
        spark.read.parquet(pages_dir).select(F.col("warc_dt").cast("string"), "url")
        .toPandas().groupby("warc_dt")["url"].apply(set).to_dict()
    )
    got = {
        d.split("=", 1)[1]: set(pd.read_parquet(os.path.join(out, d), columns=["url"])["url"])
        for d in os.listdir(out)
        if d.startswith("warc_dt=")
    }
    assert got == want and len(got) == 3


def test_compaction_reduces_files_preserves_rows(spark, tmp_path):
    """Small-file compaction: a fragmented day-partition collapses to
    few files with identical rows; already-compact partitions are
    skipped; the pass is idempotent."""
    from quality_filter.io.maintenance import compact_partitions, partition_file_stats

    out = str(tmp_path / "sink")
    pdf = generate_pages(200, seed=55, days=2).drop(columns=["cls"])
    sdf = spark.createDataFrame(pdf, schema=pages_spark_schema())
    # fragment: 25 input partitions -> ~25 files per day-partition
    from quality_filter.io.pages import write_pages_partitioned

    write_pages_partitioned(sdf.repartition(25), out)
    before = partition_file_stats(out)
    assert all(s["n_files"] >= 20 for s in before.values())
    rows_before = spark.read.parquet(out).count()

    summary = compact_partitions(spark, out, target_file_bytes=1 << 30, min_files=4)
    assert len(summary["compacted"]) == len(before)
    after = partition_file_stats(out)
    assert all(s["n_files"] <= 2 for s in after.values())
    assert spark.read.parquet(out).count() == rows_before

    # idempotent: nothing left to do
    again = compact_partitions(spark, out, target_file_bytes=1 << 30, min_files=4)
    assert not again["compacted"] and again["skipped"] == len(after)


def test_compaction_scratch_dirs_invisible_to_readers(spark, tmp_path):
    """Scratch dirs carry a leading '_' so Spark partition discovery and
    partition_file_stats ignore them: a reader of the table root DURING
    compaction (or after a crash between the renames) must never see
    duplicated rows, and a stale leftover must be cleaned, not counted."""
    import os
    import shutil

    from quality_filter.io.maintenance import compact_partitions, partition_file_stats

    out = str(tmp_path / "sink")
    pdf = generate_pages(120, seed=77, days=1).drop(columns=["cls"])
    sdf = spark.createDataFrame(pdf, schema=pages_spark_schema())
    sdf.withColumn("warc_dt", F.to_date("warc_ts")).repartition(10).write.partitionBy(
        "warc_dt"
    ).parquet(out)
    (part,) = partition_file_stats(out).keys()
    rows = spark.read.parquet(out).count()

    # simulate a crashed previous run: stale scratch copies under _compact/
    shutil.copytree(os.path.join(out, part), os.path.join(out, "_compact", "tmp_" + part))
    shutil.copytree(os.path.join(out, part), os.path.join(out, "_compact", "old_" + part))

    # Spark's reader and our stats both ignore the '_'-prefixed scratch
    assert spark.read.parquet(out).count() == rows  # no duplicated rows
    assert list(partition_file_stats(out).keys()) == [part]

    summary = compact_partitions(spark, out, target_file_bytes=1 << 30, min_files=4)
    assert part in summary["compacted"]
    # stale scratch cleaned up; no scratch survives a clean run
    leftovers = [e for e in os.listdir(out) if e.startswith("_compact")]
    assert leftovers == []
    assert spark.read.parquet(out).count() == rows


def test_compaction_recovers_partition_lost_mid_swap(spark, tmp_path):
    """Crash BETWEEN the two renames: the live partition dir is gone and
    _compact/old_<part> + tmp_<part> hold the only copies.  The next run
    must restore the partition (preferring the verified tmp_ rewrite),
    not rmtree the sole surviving data (round-3 ADVICE, medium)."""
    import os
    import shutil

    from quality_filter.io.maintenance import compact_partitions, partition_file_stats

    out = str(tmp_path / "sink")
    pdf = generate_pages(120, seed=78, days=1).drop(columns=["cls"])
    sdf = spark.createDataFrame(pdf, schema=pages_spark_schema())
    sdf.withColumn("warc_dt", F.to_date("warc_ts")).repartition(10).write.partitionBy(
        "warc_dt"
    ).parquet(out)
    (part,) = partition_file_stats(out).keys()
    rows = spark.read.parquet(out).count()

    # simulate the mid-swap crash: src renamed to old_, tmp_ written+verified,
    # but the tmp_ -> src rename never happened
    live = os.path.join(out, part)
    scratch = os.path.join(out, "_compact")
    shutil.copytree(live, os.path.join(scratch, "tmp_" + part))
    os.rename(live, os.path.join(scratch, "old_" + part))
    assert not os.path.isdir(live)

    summary = compact_partitions(spark, out, target_file_bytes=1 << 30, min_files=4)
    # partition restored from the verified rewrite, data intact
    assert summary["recovered"] == {part: "tmp_" + part}
    assert os.path.isdir(live)
    assert spark.read.parquet(out).count() == rows
    assert [e for e in os.listdir(out) if e.startswith("_compact")] == []

    # crash variant where only old_ survives (crash before tmp_ verified,
    # after src was renamed — or tmp_ was already swapped in and re-lost)
    os.makedirs(scratch, exist_ok=True)
    os.rename(live, os.path.join(scratch, "old_" + part))
    summary = compact_partitions(spark, out, target_file_bytes=1 << 30, min_files=4)
    assert summary["recovered"] == {part: "old_" + part}
    assert spark.read.parquet(out).count() == rows


def test_drop_explanation_svgs(spark, tmp_path):
    """Every non-kept doc gets a human-viewable SVG derived ONLY from its
    already-verified contribs map: sigmoid(sum(contribs)) in the header
    equals the doc's quality_score, every term gets a bar, reasons shown."""
    import math
    import re

    from quality_filter.io.explain import render_contribs_svg, write_drop_explanations

    pdf = generate_pages(120, seed=21, days=1).drop(columns=["cls"])
    scored = tiered_scored(spark.createDataFrame(pdf, schema=pages_spark_schema()))
    paths = write_drop_explanations(scored, str(tmp_path), max_docs=10)
    assert len(paths) == 10
    rows = {
        r["url"]: r
        for r in scored.filter(F.col("status") != "keep")
        .filter(F.col("contribs").isNotNull())
        .select("url", "quality_score", "contribs", "reasons").collect()
    }
    for p in paths:
        svg = open(p).read()
        assert svg.startswith("<svg") and svg.endswith("</svg>")
        url = re.search(r"\[(?:drop|quarantine)\] (\S+)</text>", svg).group(1)
        r = rows[url]
        # header score == the doc's golden-pinned quality_score
        score = float(re.search(r"= (\d\.\d+)</text>", svg).group(1))
        want = 1.0 / (1.0 + math.exp(-sum(r["contribs"].values())))
        assert abs(score - want) < 1e-6
        assert abs(score - r["quality_score"]) < 1e-6
        for term in r["contribs"]:
            assert f">{term}</text>" in svg  # one labeled bar per term
        for reason in r["reasons"]:
            assert reason in svg

    # direct renderer: deterministic and standalone
    a = render_contribs_svg({"x": 0.5, "y": -1.0}, "t", ["low_quality"])
    assert a == render_contribs_svg({"y": -1.0, "x": 0.5}, "t", ["low_quality"])


def test_partition_lineage_conserves_rows(spark, pages_dir):
    scored = tiered_scored(spark.read.parquet(pages_dir).drop("warc_dt"))
    lin = partition_lineage(scored).toPandas()
    assert lin["n_rows"].sum() == 300


def test_salted_host_rollup_matches_plain(spark, pages_dir):
    from quality_filter.io.pages import url_host

    scored = tiered_scored(spark.read.parquet(pages_dir).drop("warc_dt"))
    salted = salted_host_rollup(scored, n_salts=8).toPandas().sort_values("url_host").reset_index(drop=True)
    plain = (
        scored.withColumn("url_host", url_host())
        .groupBy("url_host")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("status") == "keep", 1).otherwise(0)).alias("n_keep"),
        )
        .toPandas().sort_values("url_host").reset_index(drop=True)
    )
    assert (salted["n_docs"].values == plain["n_docs"].values).all()
    assert (salted["n_keep"].values == plain["n_keep"].values).all()
    assert (salted["keep_rate"] <= 1.0).all()


def test_corpus_summary_rollup(spark, pages_dir):
    scored = tiered_scored(spark.read.parquet(pages_dir).drop("warc_dt"))
    summ = corpus_summary(scored).toPandas()
    total = summ[summ["status"].isna() & summ["lang_pred"].isna()]["n_docs"].iloc[0]
    assert total == 300


def test_streaming_scores_match_batch(spark, pages_dir, tmp_path):
    from quality_filter.streaming.stream import (
        read_pages_stream, run_stream_to_parquet, score_stream,
    )

    flat = str(tmp_path / "flat")
    spark.read.parquet(pages_dir).drop("warc_dt").write.parquet(flat)
    sdf = read_pages_stream(spark, flat, max_files=2)
    scored = score_stream(sdf)
    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "stream_ckpt")
    q = run_stream_to_parquet(scored, out, ckpt, available_now=True)
    q.awaitTermination(300)

    got = spark.read.parquet(out).toPandas().sort_values("url").reset_index(drop=True)
    want = (
        tiered_scored(spark.read.parquet(flat))
        .toPandas().sort_values("url").reset_index(drop=True)
    )
    assert (got["status"].values == want["status"].values).all()
    assert len(got) == 300


def test_canonical_url_collapses_crawl_variants(spark):
    """Scheme case/http, www, fragment, trailing slash, tracking params,
    and param order all canonicalize away; distinct pages stay distinct."""
    from quality_filter.io.pages import canonical_url_col, url_dedup

    variants = [
        "http://www.Example.com/a/1?utm_source=x&id=2",
        "https://example.com/a/1/?id=2#section",
        "https://EXAMPLE.com/a/1?id=2&utm_campaign=y&fbclid=zz",
        "https://example.com/a/1?ref=promo&id=2",
    ]
    other = [
        "https://example.com/a/1?id=3",      # different surviving param
        "https://example.com/a/2?id=2",      # different path
        "https://other.com/a/1?id=2",        # different host
        "https://example.com/a/1?id=2&p=1",  # extra non-tracking param
    ]
    rows = [(i, u) for i, u in enumerate(variants + other)]
    df = spark.createDataFrame(rows, ["doc_id", "url"])
    canon = {
        r["doc_id"]: r["c"]
        for r in df.select("doc_id", canonical_url_col().alias("c")).collect()
    }
    assert len({canon[i] for i in range(len(variants))}) == 1
    assert canon[0] == "https://example.com/a/1?id=2"
    assert len(set(canon.values())) == 1 + len(other)
    out = url_dedup(df).collect()
    by_url = {r["canonical_url"]: r for r in out}
    rep = by_url["https://example.com/a/1?id=2"]
    assert (rep["rep_id"], rep["n_dups"]) == (0, len(variants))


def test_canonical_url_plan_is_narrow(spark):
    """canonical_url_col is scan-speed: no Exchange, no Python crossing."""
    from quality_filter.io.pages import canonical_url_col

    df = spark.createDataFrame([(1, "https://www.a.com/x?utm_a=1&b=2")], ["doc_id", "url"])
    plan = (
        df.select(canonical_url_col().alias("c"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_bucketed_join_is_exchange_free_and_prunes_buckets(spark, tmp_path):
    """Co-located bucketed tables: a doc_id join of two tables bucketed
    (8, doc_id) plans with NO Exchange and NO Sort (bucketBy+sortBy
    pre-shuffled/pre-sorted both sides at write time), while the same
    join over plain parquet shuffles both sides; an equality filter on
    the bucket key prunes the scan to 1 of 8 buckets."""
    from quality_filter.io.bucketed import read_bucketed_table, write_bucketed_table

    docs = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("meta")
    )
    scores = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"), (F.col("id") * 2).cast("double").alias("score")
    )
    write_bucketed_table(docs, "t_docs_b", str(tmp_path / "docs_b"), "doc_id", 8)
    write_bucketed_table(scores, "t_scores_b", str(tmp_path / "scores_b"), "doc_id", 8)
    prev_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # test tables are tiny, so the planner would broadcast (and skip
        # the bucketed scan); at the scale bucketing targets, both sides
        # are far past any broadcast threshold — force the SMJ path the
        # co-location exists for
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        a = read_bucketed_table(spark, "t_docs_b")
        b = read_bucketed_table(spark, "t_scores_b")
        joined = a.join(b, "doc_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert joined.count() == 1000

        # same data via plain parquet paths: the shuffle comes back
        docs.write.parquet(str(tmp_path / "docs_p"))
        scores.write.parquet(str(tmp_path / "scores_p"))
        pp = (
            spark.read.parquet(str(tmp_path / "docs_p"))
            .join(spark.read.parquet(str(tmp_path / "scores_p")), "doc_id")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" in pp

        # bucket pruning: equality on the bucket key reads 1 of 8 buckets.
        # autoBucketedScan drops the bucketed layout when no operator
        # REQUIRES the distribution (a bare filter doesn't) — turn it
        # off so the scan keeps the layout and prunes on it.
        spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        pruned = a.filter(F.col("doc_id") == 421)
        pplan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount: 1 out of 8" in pplan
        assert pruned.count() == 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thr)
        spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
        spark.sql("DROP TABLE IF EXISTS t_docs_b")
        spark.sql("DROP TABLE IF EXISTS t_scores_b")


def test_aqe_splits_skewed_join_at_runtime(spark):
    """The OTHER half of the skew story: salting (salted_host_rollup)
    handles skew we predict; AQE's skew-join handles skew we DON'T —
    pin that a 90%-hot-key join re-plans at runtime into a split
    SortMergeJoin (skew=true) with a coalesced-and-skewed shuffle read,
    so an unforeseen hot host/domain cannot pin a 100-TB join on one
    reducer."""
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    try:
        # scale AQE's size thresholds down to test-data volume (the same
        # ratios a production job gets from the defaults at real volume)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        n = 100_000
        left = spark.range(n).select(
            F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("payload-"), F.col("id").cast("string")).alias("pl"),
        )
        right = spark.range(50).select(F.col("id").alias("k"), F.lit("dim").alias("d"))
        j = left.join(right, "k").select(F.substring("pl", 1, 2).alias("s"))
        rows = j.collect()  # executes THIS QueryExecution -> final AQE plan
        # hot rows (id%10<9) all match right key 0; tail rows keep k=id,
        # and ids 9/19/29/39/49 are the only ones under right's 50 keys
        assert len(rows) == n * 9 // 10 + 5
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
        assert "isFinalPlan=true" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_canonical_url_tolerates_malformed_urls(spark):
    """A crawl stream WILL contain junk URLs: canonicalization must
    never abort (ANSI parse_url throws; try_parse_url + raw-url
    fallback) — malformed rows keep their raw string as canonical key
    and dedup only among byte-identical copies."""
    from quality_filter.io.pages import canonical_url_col, url_dedup

    rows = [
        (1, "not a url"),
        (2, "not a url"),                      # exact junk dup
        (3, "ht!tp:/\\broken"),
        (4, "https://ok.example.com/a?id=1"),
        (5, "https://www.ok.example.com/a/?id=1#f"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "url"])
    out = {r["canonical_url"]: (r["rep_id"], r["n_dups"]) for r in url_dedup(df).collect()}
    assert out["not a url"] == (1, 2)
    assert out["https://ok.example.com/a?id=1"] == (4, 2)
    assert len(out) == 3
    # no NULL canonical keys ever
    assert df.select(canonical_url_col().alias("c")).filter(F.col("c").isNull()).count() == 0


def test_weighted_sample_rejects_unsupported_weight(spark):
    """Weights outside {1,2,4} abort at execution instead of silently
    sampling at weight 1 (the enum_check job-abort pattern)."""
    from quality_filter.operators.sampling import weighted_hash_sample

    df = spark.createDataFrame([(1, 4), (2, 8)], ["doc_id", "weight"])
    with pytest.raises(Exception, match="weight must be one of"):
        weighted_hash_sample(df, "doc_id", "weight", 2).collect()


def test_salted_rollup_survives_malformed_urls(spark):
    """One junk URL must not abort the rollup: malformed rows aggregate
    under the _invalid_ sentinel host."""
    from quality_filter.io.pages import INVALID_HOST

    rows = [
        ("https://a.example.com/x", "keep", 0.9),
        ("not a url", "drop", 0.1),
        ("also::junk", "keep", 0.5),
    ]
    df = spark.createDataFrame(rows, ["url", "status", "quality_score"])
    out = {r["url_host"]: r["n_docs"] for r in salted_host_rollup(df, n_salts=4).collect()}
    assert out["a.example.com"] == 1
    assert out[INVALID_HOST] == 2


def test_canonical_url_www_only_host_matches_oracle_fallback(spark):
    """A host that strips to '' (exactly 'www.') must take the raw-url
    fallback — the same predicate the DuckDB twin applies — instead of
    emitting a hostless 'https:///...' key that collides junk."""
    from quality_filter.io.pages import canonical_url_col

    rows = [(1, "https://www./p?x=1"), (2, "https://WWW./p?x=1"), (3, "https:///p?x=1")]
    df = spark.createDataFrame(rows, ["doc_id", "url"])
    canon = {r["doc_id"]: r["c"] for r in df.select("doc_id", canonical_url_col().alias("c")).collect()}
    assert canon[1] == "https://www./p?x=1"   # raw fallback, not https:///p?x=1
    assert len(set(canon.values())) == 3      # distinct junk stays distinct
