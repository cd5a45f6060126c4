"""In-process smoke tests for the spark-submit job entry points
(the spark-submit surface itself is exercised by the verify recipe)."""

import json
import os

import pytest

from tests.conftest import persistent_rdd_ids


GOOD_BASE = (
    "the and was for with this that from they have more some very "
    "good time people about other many then"
)


def _good_text(i: int) -> str:
    return f"{GOOD_BASE} {GOOD_BASE} {GOOD_BASE} unique{i} token{i}"


@pytest.fixture()
def curate_input(spark, tmp_path):
    rows = []
    for i in range(30):  # good docs, alternating sources
        rows.append((i, _good_text(i), "en", f"s{i % 2}", 100))
    for i in range(100, 105):  # exact duplicates of doc 0 (same text)
        rows.append((i, _good_text(0), "en", "s0", 100))
    for i in range(200, 205):  # junk: fails the quality floor
        rows.append((i, "!!! ??? ###", "en", "s0", 10))
    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(path)
    return path


def test_curate_job_end_to_end(spark, curate_input, tmp_path):
    from jobs.curate import main

    out_dir = str(tmp_path / "curated")
    rc = main([
        "--input", curate_input, "--output", out_dir,
        "--mixture", json.dumps({"s0": 1.0}),
        "--pack-budget", "64", "--pack-shards", "4",
    ])
    assert rc == 0

    manifest = json.loads(
        open(os.path.join(out_dir, "_curate_manifest.json")).read()
    )
    assert manifest["n_input"] == 40
    assert manifest["reasons"]["quality"] == 5
    assert manifest["n_after_filter"] == 35
    # 5 exact duplicates of doc 0 collapse onto the representative
    assert manifest["n_after_dedup"] == 30
    # mixture weight 1.0 for s0, s1 absent -> only the 15 s0 good docs
    assert manifest["n_curated"] == 15

    out = spark.read.parquet(out_dir)
    assert sorted(r["doc_id"] for r in out.select("doc_id").collect()) == list(
        range(0, 30, 2)
    )
    assert {"pack_id", "pack_offset"} <= set(out.columns)
    # every pack offset respects the budget
    assert out.filter("pack_offset < 0 OR pack_offset >= 64").count() == 0


def test_curate_job_no_mixture_no_pack(spark, curate_input, tmp_path):
    from jobs.curate import main

    out_dir = str(tmp_path / "curated2")
    rc = main(["--input", curate_input, "--output", out_dir,
               "--pack-budget", "0"])
    assert rc == 0
    out = spark.read.parquet(out_dir)
    assert out.count() == 30
    assert "pack_id" not in out.columns


def test_curate_job_span_dedup_and_source_cap(spark, tmp_path):
    from jobs.curate import main

    def distinct_doc(i):
        return " ".join(f"w{i}x{j}" for j in range(60))

    boiler = " ".join(f"bb{j}" for j in range(70))
    rows = [(i, distinct_doc(i), "en", f"s{i % 2}", 100) for i in range(20)]
    # two boilerplate-heavy docs: 60 unique words + a 70-word shared block
    # -> duplicated spans cover ~54% of their tokens
    rows.append((300, f"{distinct_doc(300)} {boiler}", "en", "s0", 100))
    rows.append((301, f"{distinct_doc(301)} {boiler}", "en", "s1", 100))
    inp = str(tmp_path / "docs2.parquet")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(inp)

    out_dir = str(tmp_path / "curated3")
    persisted = persistent_rdd_ids(spark)
    rc = main([
        "--input", inp, "--output", out_dir,
        "--max-dup-span-frac", "0.5", "--per-source-cap", "5",
        "--pack-budget", "0",
    ])
    assert rc == 0
    # the job releases every frame it cached
    assert persistent_rdd_ids(spark) <= persisted
    manifest = json.loads(
        open(os.path.join(out_dir, "_curate_manifest.json")).read()
    )
    assert manifest["n_input"] == 22
    assert manifest["n_after_dedup"] == 22      # all texts distinct
    assert manifest["n_after_span_dedup"] == 20  # both boilerplate docs out
    assert manifest["n_after_source_cap"] == 10  # 5 per source
    out = spark.read.parquet(out_dir)
    counts = {r["source"]: r["count"] for r in out.groupBy("source").count().collect()}
    assert counts == {"s0": 5, "s1": 5}
    assert out.filter("doc_id >= 300").count() == 0


def test_dedup_job_counts(spark, tmp_path, capsys):
    """The dedup summary's counts, taken on the writes, equal the written
    output, and the manifest records the printed summary. A corpus with
    no near-duplicates writes empty pairs/groups and still returns. The
    job leaves no cached frame or checkpoint behind."""
    from jobs.dedup import main

    singletons = [
        (30 + i, f"singleton {i} " + " ".join(f"s{i}w{j}" for j in range(10)))
        for i in range(5)
    ]
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    planted = [(1, base), (2, base + " lambda"), (3, base + " mu")]  # a group of 3
    other = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    planted += [(20, other), (21, other + " eiusmod")]  # a group of 2

    for name, rows, n_groups in (("planted", planted + singletons, 2),
                                 ("unique", singletons, 0)):
        inp = str(tmp_path / f"{name}.parquet")
        spark.createDataFrame(rows, "doc_id long, text string").write.parquet(inp)
        out_dir = str(tmp_path / f"dedup-{name}")
        capsys.readouterr()
        persisted = persistent_rdd_ids(spark)
        assert main(["--input", inp, "--output", out_dir, "--groups"]) == 0
        assert persistent_rdd_ids(spark) <= persisted, name
        summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

        pairs = spark.read.parquet(os.path.join(out_dir, "pairs"))
        groups = spark.read.parquet(os.path.join(out_dir, "groups"))
        assert summary["pairs"] == pairs.count(), name
        assert (summary["pairs"] > 0) == (n_groups > 0), name
        assert summary["groups"] == groups.select("component").distinct().count(), name
        assert summary["groups"] == n_groups, name
        manifest = json.load(open(os.path.join(out_dir, "_dedup_manifest.json")))
        assert manifest == summary, name


def test_kg_construct_from_warc_archive(spark, tmp_path, capsys):
    """Crawl wire-format to triples in one job: synth html pages packed
    into WARC files, ingested with --input-format warc."""
    from pyspark.sql import functions as F

    from jobs.kg_construct import main
    from kgspark import synth
    from kgspark.warc import write_warc

    docs = synth.synth_documents(spark, n_docs=40).select(
        F.col("url"),
        F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("warc_ts"),
        F.col("html").alias("payload"),
    ).repartition(3)
    warc_dir = str(tmp_path / "crawl")
    write_warc(docs, warc_dir)

    out_dir = str(tmp_path / "triples")
    capsys.readouterr()
    rc = main([
        "--input", warc_dir, "--output", out_dir,
        "--input-format", "warc", "--checkpoint", str(tmp_path / "ckpt"),
    ])
    assert rc == 0
    captured = capsys.readouterr()
    summary = json.loads(captured.out.strip().splitlines()[-1])
    triples = spark.read.parquet(out_dir)
    assert summary["triples"] == triples.count() > 0
    assert set(triples.columns) >= {"subj", "obj"}
    # WARC documents arrive extracted: no schema-sniffing fallback
    assert "assuming extracted text" not in captured.err


PYTHON_OPERATOR = r"\b(?:MapInPandas|ArrowEvalPython|MapInArrow|BatchEvalPython)\b"


def test_kg_construct_warc_extract_stage_crosses_into_python_once(
    spark, tmp_path, monkeypatch
):
    """The documents kg_construct builds for --input-format warc, taken
    through run_pipeline's extract stage with the job's own config, plan
    exactly one Python operator: the record walk, HTTP unwrap and
    extraction run in one kernel."""
    import dataclasses
    import re

    from pyspark.sql import functions as F

    import kgspark.pipeline
    from jobs.kg_construct import main
    from kgspark import synth
    from kgspark.warc import write_warc

    docs = synth.synth_documents(spark, n_docs=6).select(
        F.col("url"),
        F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("warc_ts"),
        F.col("html").alias("payload"),
    ).repartition(2)
    warc_dir = str(tmp_path / "crawl")
    write_warc(docs, warc_dir)

    class Built(Exception):
        pass

    calls = []
    real_run_pipeline = kgspark.pipeline.run_pipeline

    def capture(*args, **kwargs):
        calls.append((args, kwargs))
        raise Built

    monkeypatch.setattr(kgspark.pipeline, "run_pipeline", capture)
    with pytest.raises(Built):
        main(["--input", warc_dir, "--output", str(tmp_path / "triples"),
              "--input-format", "warc"])
    [(args, kwargs)] = calls
    *inputs, cfg = args
    # the redirect closure is not the extract stage's concern
    out = real_run_pipeline(
        *inputs, dataclasses.replace(cfg, redirects_preclosed=True), **kwargs
    )
    extracted = out["documents"]
    assert extracted.count() == 6
    plan = extracted._jdf.queryExecution().executedPlan().toString()
    ops = re.findall(PYTHON_OPERATOR, plan.split("== Initial Plan ==")[0])
    assert ops == ["MapInPandas"], plan
    assert cfg.use_html is False


def test_kg_construct_streaming_incremental(spark, tmp_path):
    """--streaming: the WARC drop directory as a live crawl. Invocation 1
    builds triples for the first archive; after a second archive lands,
    invocation 2 (same checkpoint) appends ONLY the new archive's
    triples; invocation 3 with nothing new is a no-op."""
    from pyspark.sql import functions as F

    from jobs.kg_construct import main
    from kgspark import synth
    from kgspark.warc import write_warc

    drop = tmp_path / "drop"
    drop.mkdir()
    out_dir = str(tmp_path / "triples")
    ckpt = str(tmp_path / "ckpt")

    all_docs = synth.synth_documents(spark, n_docs=30).select(
        F.col("url"),
        F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("warc_ts"),
        F.col("html").alias("payload"),
        F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long").alias("doc_id"),
    )

    def land(lo, hi, name):
        # write_warc emits part files into a directory; the drop dir wants
        # flat .warc files (the file stream source does not recurse)
        import os
        import shutil

        staging = str(tmp_path / f"stage-{name}")
        write_warc(
            all_docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
            .drop("doc_id").coalesce(1),
            staging,
        )
        (f,) = [x for x in os.listdir(staging) if x.endswith(".warc")]
        shutil.move(os.path.join(staging, f), str(drop / f"{name}.warc"))

    argv = ["--input", str(drop), "--output", out_dir,
            "--input-format", "warc", "--streaming", "--checkpoint", ckpt]

    land(0, 20, "crawl-0")
    assert main(argv) == 0
    c1 = spark.read.parquet(out_dir).count()
    assert c1 > 0

    land(20, 30, "crawl-1")
    assert main(argv) == 0
    c2 = spark.read.parquet(out_dir).count()
    assert c2 > c1
    # batch-1 docs were NOT reprocessed: every triple's doc is unique
    trip = spark.read.parquet(out_dir)
    if "doc_id" in trip.columns:
        assert trip.groupBy("doc_id").count().filter("count > 1000").count() == 0

    assert main(argv) == 0  # nothing new landed
    assert spark.read.parquet(out_dir).count() == c2
