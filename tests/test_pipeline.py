"""End-to-end pipeline goldens + checkpoint resume."""

import json
import os
from contextlib import contextmanager

from kgspark import synth
from kgspark.dedup import release_checkpoint
from kgspark.pipeline import PipelineConfig, run_pipeline

from tests.conftest import persistent_rdd_ids


@contextmanager
def _pipeline(spark, docs, lex, rd, sa, cfg):
    """``run_pipeline`` whose redirect closure is freed on exit: a lazy run
    leaves it to the caller (a checkpointed run has freed it already).
    The run leaves no persisted RDD behind."""
    persisted = persistent_rdd_ids(spark)
    out = run_pipeline(spark, docs, lex, rd, sa, cfg)
    try:
        yield out
    finally:
        release_checkpoint(out["redirects_closed"])
    assert persistent_rdd_ids(spark) <= persisted


def _run(spark, docs, cfg=None):
    return _pipeline(
        spark,
        docs,
        synth.golden_lexicon_df(spark),
        synth.redirects_df(spark),
        synth.sameas_df(spark),
        cfg or PipelineConfig(),
    )


def test_golden_annotations_end_to_end(spark):
    with _run(spark, synth.golden_documents(spark)) as out:
        got = {
            (r["doc_id"].removeprefix("golden://"), r["start"], r["text"], r["dbpedia_uri"], r["category"])
            for r in out["canonical"].collect()
        }
    assert got == {
        ("g1", 1, "Vice President Gore", "dbr:Al_Gore", "PERSON"),
        ("g1", 24, "Washington D.C.", "dbr:Washington,_D.C.", "LOCATION"),
        ("g2", 1, "Crude oil", "dbr:Petroleum", "MISC"),
        ("g3", 1, "Berlin", "dbr:Berlin", "LOCATION"),
        ("g3", 15, "capital", "dbr:Capital_city", "MISC"),
        ("g3", 26, "Germany", "dbr:Germany", "LOCATION"),
        ("g4", 5, "Deutsche Bundestag", "dbr:Bundestag", "ORGANIZATION"),
        ("g4", 32, "Berlin", "dbr:Berlin", "LOCATION"),
    }


def test_extraction_byte_identity_through_pipeline(spark):
    docs = synth.synth_documents(spark, n_docs=30)
    with _run(spark, docs) as out:
        mismatches = (
            out["documents"]
            .select("url", "text")
            .join(docs.select("url", docs["text"].alias("expected")), "url")
            .filter("text <> expected OR text IS NULL")
            .count()
        )
    assert mismatches == 0


def test_segmentation_invariance_through_pipeline(spark):
    """Mention set identical with and without forced segmentation
    (test-segment.R:38-64 contract, at pipeline level)."""
    docs = synth.synth_documents(spark, n_docs=24)
    lex = synth.lexicon_df(spark)
    rd, sa = synth.redirects_df(spark), synth.sameas_df(spark)
    key = lambda df: {
        (r["doc_id"], r["start"], r["text"], r["dbpedia_uri"])
        for r in df.select("doc_id", "start", "text", "dbpedia_uri").collect()
    }
    with _pipeline(spark, docs, lex, rd, sa, PipelineConfig(max_len=100000)) as big:
        want = key(big["mentions"])
    cfg = PipelineConfig(max_len=800, overlap=300)
    with _pipeline(spark, docs, lex, rd, sa, cfg) as small:
        assert key(small["mentions"]) == want


def test_checkpoint_resume(spark, tmp_path):
    docs = synth.golden_documents(spark)
    cfg = PipelineConfig(checkpoint_root=str(tmp_path))
    with _run(spark, docs, cfg) as first:
        n1 = first["triples"].count()
    with _run(spark, docs, cfg) as again:
        assert again["triples"].count() == n1
        assert all(m["resumed"] for m in again["metrics"])

    from pyspark.sql import functions as F

    from kgspark.lineage import MANIFEST_NAME, StageRunner

    # a zero-row stage is written, counted and resumed like any other
    for resumed in (False, True):
        runner = StageRunner(spark, str(tmp_path))
        assert runner.run("empty", lambda: docs.limit(0)).count() == 0
        m = runner.metrics[0]
        assert (m["output_rows"], m["resumed"]) == (0, resumed)

    stages = [d for d in os.listdir(tmp_path) if os.path.exists(tmp_path / d / MANIFEST_NAME)]
    assert {"spot", "triples", "empty"} <= set(stages)
    for stage in stages:
        manifest = json.load(open(tmp_path / stage / MANIFEST_NAME))
        assert manifest["complete"], stage
        back = spark.read.parquet(str(tmp_path / stage))
        # reference: the per-file re-scan the footer counts replaced
        rescan = {
            r["f"].rsplit("/", 1)[-1]: r["count"]
            for r in back.groupBy(F.input_file_name().alias("f")).count().collect()
        }
        footer = {p["file"]: p["rows"] for p in manifest["partitions"] if p["rows"]}
        assert footer == rescan, stage
        assert manifest["output_rows"] == back.count() == sum(rescan.values()), stage


def test_half_written_stage_recomputes_not_resumes(spark, tmp_path):
    """A stage whose data is on disk without a complete manifest (deleted,
    or still marked incomplete) is recomputed; every other stage resumes
    and the triples are unchanged."""
    docs = synth.golden_documents(spark)
    cfg = PipelineConfig(checkpoint_root=str(tmp_path))
    triples = lambda out: sorted(map(tuple, out["triples"].collect()))
    with _run(spark, docs, cfg) as out:
        expected = triples(out)
    manifest_path = os.path.join(str(tmp_path), "link", "_kg_manifest.json")
    stale = json.load(open(manifest_path))

    # the Hadoop local FS checks this checksum sidecar on read, so it must
    # go with any out-of-band edit of the manifest
    crc_path = os.path.join(str(tmp_path), "link", "._kg_manifest.json.crc")

    for how in ("deleted", "incomplete"):
        if os.path.exists(crc_path):
            os.remove(crc_path)
        if how == "deleted":
            os.remove(manifest_path)
        else:
            with open(manifest_path, "w") as f:
                json.dump({**stale, "complete": False}, f)
        with _run(spark, docs, cfg) as out:
            assert triples(out) == expected, how
        resumed = {m["stage"]: m["resumed"] for m in out["metrics"]}
        assert resumed.pop("link") is False, how
        assert resumed and all(resumed.values()), (how, resumed)
        assert json.load(open(manifest_path))["complete"] is True, how


def test_stale_version_stage_recomputes_not_resumes(spark, tmp_path):
    """A complete manifest written under another stage version does not
    resume: that stage recomputes and its manifest is rewritten at the
    current version; every other stage resumes."""
    from kgspark.lineage import STAGE_VERSION

    docs = synth.golden_documents(spark)
    cfg = PipelineConfig(checkpoint_root=str(tmp_path))
    triples = lambda out: sorted(map(tuple, out["triples"].collect()))
    with _run(spark, docs, cfg) as out:
        expected = triples(out)
    stage_dir = os.path.join(str(tmp_path), "overlaps")
    manifest_path = os.path.join(stage_dir, "_kg_manifest.json")
    stale = json.load(open(manifest_path))
    assert stale["version"] == STAGE_VERSION and stale["complete"] is True

    crc_path = os.path.join(stage_dir, "._kg_manifest.json.crc")
    if os.path.exists(crc_path):
        os.remove(crc_path)
    with open(manifest_path, "w") as f:
        json.dump({**stale, "version": "v0"}, f)
    with _run(spark, docs, cfg) as out:
        assert triples(out) == expected
    resumed = {m["stage"]: m["resumed"] for m in out["metrics"]}
    assert resumed.pop("overlaps") is False
    assert resumed and all(resumed.values()), resumed
    assert json.load(open(manifest_path))["version"] == STAGE_VERSION


def test_lexicon_artifact_reused_not_rewritten(spark, tmp_path):
    """An explicitly configured, already-complete lexicon artifact is
    reused (probed for _SUCCESS via the Hadoop FS API, so the check also
    works on HDFS/S3A roots) — not rewritten every run."""
    docs = synth.golden_documents(spark)
    art = str(tmp_path / "lex_artifact")
    cfg = PipelineConfig(lexicon_artifact=art)
    with _run(spark, docs, cfg) as out:
        out["triples"].count()
    success = os.path.join(art, "_SUCCESS")
    assert os.path.exists(success)
    mtimes = {
        f: os.path.getmtime(os.path.join(art, f)) for f in os.listdir(art)
    }
    with _run(spark, docs, cfg) as out2:
        assert out2["triples"].count() > 0
    assert {
        f: os.path.getmtime(os.path.join(art, f)) for f in os.listdir(art)
    } == mtimes


def test_lazy_run_leaves_no_lexicon_tempdir(spark):
    """Without checkpoint_root or lexicon_artifact, a lazy run on a local
    master writes the surface-form artifact under the context's SparkFiles
    root, which the context deletes when it stops: nothing new lands in
    the temp dir, and the lazy frames still read the artifact."""
    import glob
    import tempfile

    def left():
        return set(glob.glob(os.path.join(tempfile.gettempdir(), "kgspark-lexicon-*")))

    before = left()
    with _run(spark, synth.golden_documents(spark)) as out:
        assert out["triples"].count() > 0
    assert left() - before == set()


def test_release_pipeline_caches_empties_cache_manager(spark):
    """Benchmark contract: after release_pipeline_caches, no pipeline cache
    survives to be plan-matched by a later pass. The pipeline persists
    nothing itself, so the test caches the shared frames as a caller
    might; the closure's checkpoints are not in the CacheManager and are
    released on their own."""
    from kgspark.pipeline import release_pipeline_caches
    from kgspark.canonicalize import close_redirects

    spark.catalog.clearCache()
    persisted = persistent_rdd_ids(spark)
    docs = synth.golden_documents(spark)
    rd_closed = close_redirects(synth.redirects_df(spark))
    out = run_pipeline(
        spark, docs, synth.golden_lexicon_df(spark), rd_closed,
        synth.sameas_df(spark),
        PipelineConfig(redirects_preclosed=True),
    )
    out["documents"].persist()
    out["mentions"].persist()
    out["triples"].count()
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert not cm.isEmpty()  # docs + mentions caches are live mid-pass
    release_pipeline_caches(out)
    assert cm.isEmpty()
    release_checkpoint(rd_closed)  # close_redirects' checkpoints, caller-owned
    assert persistent_rdd_ids(spark) <= persisted


def test_triples_deterministic_across_runs(spark):
    docs = synth.synth_documents(spark, n_docs=20)
    lex = synth.lexicon_df(spark)
    rd, sa = synth.redirects_df(spark), synth.sameas_df(spark)

    def run():
        with _pipeline(spark, docs, lex, rd, sa, PipelineConfig()) as out:
            return {tuple(r) for r in out["triples"].collect()}

    t1, t2 = run(), run()
    assert t1 == t2 and len(t1) > 0


def test_write_triples_parquet_layout(spark, tmp_path):
    """The sink writes one pred=... directory per predicate (partition
    pruning on read) holding exactly the triple set; on this tiny input
    the rebalance coalesces each predicate into a single file."""
    from collections import Counter

    from kgspark.triples import write_triples

    docs = synth.synth_documents(spark, n_docs=20)
    with _pipeline(spark, docs, synth.lexicon_df(spark), synth.redirects_df(spark),
                   synth.sameas_df(spark), PipelineConfig()) as out:
        path = str(tmp_path / "triples")
        write_triples(out["triples"], path)
        parts = {d for d in os.listdir(path) if d.startswith("pred=")}
        assert {"pred=kg%3AmentionedIn", "pred=kg%3AanchorOf"} <= parts
        for d in parts:
            files = [f for f in os.listdir(os.path.join(path, d)) if f.startswith("part-")]
            assert len(files) == 1, (d, files)
        back = spark.read.parquet(path)
        assert set(back.columns) == {"subj", "pred", "obj"}
        rows = lambda df: Counter(map(tuple, df.select("subj", "pred", "obj").collect()))
        assert rows(back) == rows(out["triples"])
