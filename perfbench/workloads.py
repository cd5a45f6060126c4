"""The benchmark's workloads: seeded inputs, one timed pass, the correctness gate.

Each workload is a batch job run by one client in a closed loop: the next
pass starts when the previous one has finished. ``setup`` writes the seeded
inputs and dims into a directory; ``run_pass`` runs the job once over them
(the timed part); ``check`` turns the pass's outputs into a record that must
match the workload's reference exactly.

kg_job_longdoc
    ``jobs/kg_construct.py`` in its production shape: WARC archives with
    HTTP envelopes, long documents that are segmented and stitched, a
    generated 200k-form lexicon published as an artifact, a fresh
    ``--checkpoint`` root and ``--output`` per pass. Reference: the
    in-memory, unsegmented ``run_pipeline`` over the same documents.
corpus_curate
    ``jobs/curate.py`` (quality gate, exact dedup, duplicated-span dedup,
    per-source cap, packing) then ``jobs/dedup.py --groups`` over a
    generated parquet corpus. Reference: the same stages composed from the
    DuckDB oracles in ``kgspark.oracles`` over the same corpus; the jobs'
    manifest counts and their curated rows, near-duplicate pairs and groups
    must equal the oracle's.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from kgspark import synth

# Sized on a 4-core host so that a warm pass takes ~10-13 s and a whole run
# about a minute. Per-document lengths vary in a narrow band so that the
# input size, and with it the pass time, barely depends on the seed.
KG_DOCS = 12
KG_MIN_WORDS = 2000
KG_MAX_WORDS = 2500
KG_LEXICON_FORMS = 200_000
CURATE_DOCS = 1000
CURATE_SOURCES = 5
CURATE_SOURCE_CAP = 50
CURATE_MAX_DUP_SPAN_FRAC = 0.5


def digest_cols(cols: list[str]) -> list:
    """Order-independent digest: row count and the sum of a 64-bit row
    hash. The sum is taken as decimal(38,0): a bigint sum overflows, and
    Spark's ANSI mode raises on overflow."""
    return [
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.xxhash64(*cols).cast("decimal(38,0)")), F.lit(0)).alias("h"),
    ]


def digest(df: DataFrame, cols: list[str]) -> list:
    row = df.agg(*digest_cols(cols)).collect()[0]
    return [row["n"], str(row["h"])]


def rows_digest(rows) -> list:
    """Row count and a hash of the sorted rows, for results small enough
    to collect."""
    rows = sorted(tuple(r) for r in rows)
    return [len(rows), hashlib.sha256(repr(rows).encode()).hexdigest()]


def call_job(main, argv: list[str]) -> dict:
    """Run a job's ``main`` in-process; return the JSON summary it prints."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(argv)
    if rc != 0:
        raise RuntimeError(f"job exited with {rc}")
    lines = [ln for ln in buf.getvalue().splitlines() if ln.startswith("{")]
    return json.loads(lines[-1])


def curate_frame(docs: DataFrame) -> DataFrame:
    """Documents in the curation jobs' input schema."""
    doc_id = F.substring_index("url", "/", -1).cast("long")
    return docs.select(
        doc_id.alias("doc_id"),
        "text",
        "lang",
        F.concat(F.lit("s"), (doc_id % CURATE_SOURCES).cast("string")).alias("source"),
        F.length("text").cast("long").alias("n_chars"),
    )


def write_warc_docs(docs: DataFrame, path: str) -> None:
    from kgspark.warc import write_warc

    write_warc(
        docs.select(
            "url",
            F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("warc_ts"),
            F.col("html").alias("payload"),
        ),
        path,
        http_wrap=True,
    )


def _generated_lexicon(spark: SparkSession, n: int, seed: int) -> DataFrame:
    """``n`` unambiguous generated forms (vocabulary word + md5 suffix, as
    ``synth.big_lexicon_df``) plus the real rows, built by Spark rather
    than a driver-side list."""
    vocab = F.array(*[F.lit(w) for w in synth.VOCAB])
    word = F.element_at(vocab, (F.col("id") % len(synth.VOCAB) + 1).cast("int"))
    suffix = F.substring(F.md5(F.concat(F.lit(f"{seed}:"), F.col("id").cast("string"))), 1, 8)
    gen = spark.range(n).select(
        F.concat(word, F.lit(" "), suffix).alias("surface_form"),
        F.concat(F.lit("dbr:Gen_"), F.col("id").cast("string")).alias("uri"),
        F.lit(1.0).alias("prior"),
        (F.lit(100) + F.col("id") % 900).alias("support"),
        F.array(F.lit("Thing")).alias("dbpedia_types"),
        F.array(F.lit("Q35120")).alias("wikidata_types"),
        F.lit("data").alias("ctx_tokens"),
    )
    return gen.unionByName(synth.lexicon_df(spark))


def write_kg_dims(spark: SparkSession, d: str, lexicon: DataFrame) -> None:
    """Lexicon parquet + its published surface-form artifact, the closed
    redirects dim and the sameAs dim, as the production job reads them."""
    from kgspark.automaton import write_lexicon_artifact
    from kgspark.canonicalize import write_closed_redirects

    lexicon.write.parquet(f"{d}/lexicon")
    write_lexicon_artifact(spark.read.parquet(f"{d}/lexicon"), f"{d}/artifact")
    write_closed_redirects(synth.redirects_df(spark), f"{d}/redirects")
    synth.sameas_df(spark).write.parquet(f"{d}/sameas")


class Workload:
    name: str
    n_docs: int
    doc_kwargs: dict = {}

    def __init__(self, spark: SparkSession, seed: int, parts: int):
        self.spark, self.seed, self.parts = spark, seed, parts

    def documents(self) -> DataFrame:
        """The seeded documents (url, warc_ts, html, text, lang)."""
        return synth.synth_documents_distributed(
            self.spark, self.n_docs, seed=self.seed, parts=self.parts, **self.doc_kwargs
        )


class KgJobLongdoc(Workload):
    name = "kg_job_longdoc"
    n_docs = KG_DOCS
    doc_kwargs = dict(min_words=KG_MIN_WORDS, max_words=KG_MAX_WORDS, long_doc_every=10**9)

    def setup(self, d: str) -> None:
        write_warc_docs(self.documents(), f"{d}/warc")
        write_kg_dims(
            self.spark, d, _generated_lexicon(self.spark, KG_LEXICON_FORMS, self.seed)
        )

    def run_pass(self, d: str, out: str) -> dict:
        from jobs.kg_construct import main

        return call_job(main, [
            "--input", f"{d}/warc", "--input-format", "warc",
            "--output", f"{out}/triples", "--checkpoint", f"{out}/checkpoint",
            "--lexicon", f"{d}/lexicon", "--lexicon-artifact", f"{d}/artifact",
            "--redirects", f"{d}/redirects", "--redirects-preclosed",
            "--sameas", f"{d}/sameas",
        ])

    def check(self, summary: dict, out: str) -> dict:
        resumed = [s["stage"] for s in summary["stages"] if s.get("resumed")]
        if resumed:
            raise AssertionError(f"stages resumed from a checkpoint: {resumed}")
        triples = self.spark.read.parquet(f"{out}/triples")
        return {"triples": digest(triples, ["subj", "pred", "obj"])}

    def reference(self, d: str) -> dict:
        from kgspark.pipeline import PipelineConfig, run_pipeline

        sp = self.spark
        out = run_pipeline(
            sp,
            self.documents().select("url", "warc_ts", "html"),
            sp.read.parquet(f"{d}/lexicon"),
            sp.read.parquet(f"{d}/redirects"),
            sp.read.parquet(f"{d}/sameas"),
            PipelineConfig(
                max_len=10**9,  # no document is segmented
                redirects_preclosed=True,
                lexicon_artifact=f"{d}/artifact",
            ),
            doc_col="url",
        )
        return {"triples": digest(out["triples"], ["subj", "pred", "obj"])}


class CorpusCurate(Workload):
    name = "corpus_curate"
    n_docs = CURATE_DOCS

    def setup(self, d: str) -> None:
        curate_frame(self.documents()).write.parquet(f"{d}/corpus")

    def run_pass(self, d: str, out: str) -> dict:
        from jobs.curate import main as curate
        from jobs.dedup import main as dedup

        return {
            "curate": call_job(curate, [
                "--input", f"{d}/corpus", "--output", f"{out}/curated",
                "--max-dup-span-frac", str(CURATE_MAX_DUP_SPAN_FRAC),
                "--per-source-cap", str(CURATE_SOURCE_CAP),
            ]),
            "dedup": call_job(dedup, [
                "--input", f"{d}/corpus", "--output", f"{out}/dedup", "--groups",
            ]),
        }

    def check(self, summary: dict, out: str) -> dict:
        sp = self.spark
        cur, ded = summary["curate"], summary["dedup"]
        curated = sp.read.parquet(f"{out}/curated")
        return {
            "curate_counts": {k: v for k, v in cur.items() if k.startswith("n_") or k == "reasons"},
            "dedup_counts": {"pairs": ded["pairs"], "groups": ded["groups"]},
            "curated": rows_digest(curated.select(
                "doc_id", F.md5("text"), "source", "pack_id", "pack_offset").collect()),
            "pairs": rows_digest(sp.read.parquet(f"{out}/dedup/pairs").select("doc_a", "doc_b").collect()),
            "groups": rows_digest(sp.read.parquet(f"{out}/dedup/groups").select("node", "component").collect()),
        }

    def reference(self, d: str) -> dict:
        """The curate and dedup jobs rebuilt from the DuckDB oracles, one
        table per stage over the previous stage's table, with the jobs'
        default settings (quality floor 0.5, 8-gram spans, 2048-token packs
        in 64 shards; MinHash k=16 in 4 bands, Jaccard threshold 0.5)."""
        import duckdb

        from kgspark import oracles

        con = duckdb.connect()

        def over(table: str) -> None:  # the oracles read ``documents``
            con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM {table}")

        def stage(table: str, sql: str) -> int:
            con.execute(f"CREATE TABLE {table} AS {sql}")
            return con.execute(f"SELECT count(*) FROM {table}").fetchone()[0]

        def rows(sql: str) -> list:
            return con.execute(sql).fetchall()

        n_input = stage("corpus", f"SELECT * FROM read_parquet('{d}/corpus/*.parquet')")
        over("corpus")
        # q_corpus_filter computes the repetition stats over lines made
        # from ' the '; jobs/curate.py computes them over the raw text
        lines = "replace(text, ' the ', chr(10))"
        gate_sql = oracles.q_corpus_filter(quality_floor=0.5)
        if gate_sql.count(lines) != 1:
            raise RuntimeError("oracles.q_corpus_filter no longer has the expected line split")
        stage("gate", gate_sql.replace(lines, "text"))
        reasons = dict(rows("SELECT reason, count(*) FROM gate WHERE reason <> 'ok' GROUP BY 1"))
        n_filter = stage("kept", "SELECT c.* FROM corpus c JOIN gate g USING (doc_id) WHERE g.keep")
        over("kept")
        stage("fp", oracles.q_dedup_exact())
        n_dedup = stage("deduped", "SELECT k.* FROM kept k JOIN fp USING (doc_id) WHERE NOT fp.is_dup")
        over("deduped")
        stage("spans", oracles.q_dup_ngram_spans(n=8, min_docs=2))
        n_span = stage("unspanned", rf"""SELECT d.* FROM deduped d LEFT JOIN
            (SELECT doc_id, sum(span_end - span_start + 1) AS dup FROM spans GROUP BY 1) s
            USING (doc_id)
            WHERE s.dup IS NULL
               OR s.dup / len(string_split_regex(d.text, '\s+')) <= {CURATE_MAX_DUP_SPAN_FRAC}""")
        over("unspanned")
        n_cap = stage("capped", f"""SELECT u.* FROM unspanned u
            JOIN ({oracles.q_stratified_sample(k=CURATE_SOURCE_CAP)}) USING (doc_id)""")
        over("capped")
        curated = rows(f"""SELECT c.doc_id, md5(c.text), c.source, p.pack_id, p.pack_offset
            FROM capped c JOIN ({oracles.q_pack_sequences(budget=2048, n_shards=64)}) p
            USING (doc_id)""")
        over("corpus")
        stage("pairs", f"SELECT doc_a, doc_b FROM ({oracles.q_dedup_minhash()})")
        pairs = rows("SELECT * FROM pairs")
        # Components span only the paired documents. The recursive query
        # recomputes the signatures at every step, so it runs over those
        # alone; their LSH buckets are subsets of the full corpus's, none
        # over the bucket cap, so the same pairs come out.
        stage("paired", """SELECT * FROM corpus WHERE doc_id IN
            (SELECT doc_a FROM pairs UNION SELECT doc_b FROM pairs)""")
        over("paired")
        groups = rows(f"SELECT node, component FROM ({oracles.q_dedup_components()})")
        con.close()
        return {
            "curate_counts": {
                "n_input": n_input, "reasons": reasons, "n_after_filter": n_filter,
                "n_after_dedup": n_dedup, "n_after_span_dedup": n_span,
                "n_after_source_cap": n_cap, "n_curated": n_cap,
            },
            "dedup_counts": {"pairs": len(pairs), "groups": len({c for _, c in groups})},
            "curated": rows_digest(curated),
            "pairs": rows_digest(pairs),
            "groups": rows_digest(groups),
        }


WORKLOADS = {w.name: w for w in (KgJobLongdoc, CorpusCurate)}


def remove(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    if os.path.exists(path):
        raise RuntimeError(f"could not remove {path}")
