"""DuckDB oracle SQL for every operator in ``__spark_entry__.queries()``.

Each function returns an ANSI-ish SQL string (DuckDB dialect) that
recomputes the corresponding Spark operator's result from the same parquet
views (``documents``, ``embeddings``, ``lineitem``, ...). The lexicon and
KG dimension tables are inlined as VALUES from the same seeded constants in
``kgspark.synth``, so both engines see identical inputs.

Mirroring rules (kept in lockstep with the Spark operators — any change on
one side must change the other):
- spotting: ASCII word-boundary substring occurrences, 1-based starts;
- hashes: md5-derived only (bit-identical across engines), via
  ``cast('0x' || substr(md5(x),1,8) as bigint)``;
- money aggregations: exact DECIMAL(18,4) sums cast back to double;
- every float output rounded to 6 decimals on both sides.
"""

from __future__ import annotations

from kgspark.synth import (
    EN_STOPWORDS,
    LANG_MARKERS,
    LEXICON_ROWS,
    REDIRECT_ROWS,
    SAMEAS_ROWS,
    LABEL_ROWS,
)
from kgspark.textops import BPE_PATTERN, EMAIL_PATTERN, IPV4_PATTERN, PHONE_PATTERN

MIN_SUPPORT = 20
CONFIDENCE = 0.35
WORD = "[0-9A-Za-z]"


# ---------------------------------------------------------------------------
# shared CTE fragments
def lex_cte() -> str:
    rows = ",\n      ".join(
        "('{sf}', '{uri}', {prior}::DOUBLE, {support}, '{dt}', '{wt}', '{ctx}')".format(
            sf=sf, uri=uri, prior=prior, support=support,
            dt="|".join(dts or []), wt="|".join(wts or []), ctx=ctx,
        )
        for sf, uri, prior, support, dts, wts, ctx in LEXICON_ROWS
    )
    return f"lex(sf, uri, prior, support, dtypes, wtypes, ctx) AS (VALUES\n      {rows})"


def spots_cte() -> str:
    return f"""forms AS (SELECT DISTINCT sf FROM lex),
  spots AS (
    SELECT d.doc_id,
      unnest(list_filter(generate_series(1, length(d.text) - length(f.sf) + 1),
        p -> substr(d.text, p, length(f.sf)) = f.sf
          AND (p = 1 OR NOT regexp_matches(substr(d.text, p - 1, 1), '{WORD}'))
          AND (p + length(f.sf) > length(d.text)
               OR NOT regexp_matches(substr(d.text, p + length(f.sf), 1), '{WORD}'))
      )) AS start,
      f.sf AS text
    FROM documents d CROSS JOIN forms f
    WHERE length(d.text) >= length(f.sf))"""


def cands_cte(min_support: int = MIN_SUPPORT) -> str:
    return f"""cands AS (
    SELECT s.doc_id, s.start, s.text, l.uri, l.prior, l.support, l.dtypes, l.wtypes, l.ctx
    FROM spots s JOIN lex l ON s.text = l.sf
    WHERE l.support >= {min_support})"""


def linked_cte(confidence: float = CONFIDENCE) -> str:
    return rf"""dtoks AS (
    SELECT doc_id, list_distinct(string_split_regex(text, '\s+')) AS toks FROM documents),
  scored AS (
    SELECT c.*, (1.0 + len(list_intersect(dt.toks, string_split(c.ctx, ' ')))) * c.prior AS score
    FROM cands c JOIN dtoks dt USING (doc_id)),
  ranked AS (
    SELECT *,
      row_number() OVER (PARTITION BY doc_id, start, text ORDER BY score DESC, uri) AS rnk,
      score / sum(score) OVER (PARTITION BY doc_id, start, text) AS conf
    FROM scored),
  linked AS (
    SELECT doc_id, start, text, uri AS dbpedia_uri, dtypes, wtypes
    FROM ranked WHERE rnk = 1 AND conf >= {confidence})"""


def detect_cte(src: str = "linked") -> str:
    # the uri completes the order: identical spans would otherwise be tied,
    # and DuckDB orders ties independently in each window (a row could
    # count as new in one window and as a follower in the next)
    return f"""ovl0 AS (SELECT *, start + length(text) AS "end" FROM {src}),
  ovl1 AS (SELECT *,
      max("end") OVER (PARTITION BY doc_id ORDER BY start, "end", text, dbpedia_uri NULLS FIRST
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mpe
    FROM ovl0),
  ovl2 AS (SELECT *, CASE WHEN mpe IS NULL OR start > mpe THEN 1 ELSE 0 END AS is_new FROM ovl1),
  ovl3 AS (SELECT *,
      sum(is_new) OVER (PARTITION BY doc_id ORDER BY start, "end", text, dbpedia_uri NULLS FIRST
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
    FROM ovl2),
  ovl4 AS (SELECT *, count(*) OVER (PARTITION BY doc_id, grp) AS grp_n FROM ovl3),
  detected AS (SELECT *,
      CASE WHEN grp_n > 1 THEN
        'ovl_' || doc_id::VARCHAR || '_' ||
        (dense_rank() OVER (PARTITION BY doc_id, grp_n > 1 ORDER BY grp))::VARCHAR
      END AS ovl_id
    FROM ovl4)"""


def categorize_cte(src: str = "detected") -> str:
    w = "PARTITION BY doc_id, ovl_id"
    ws = f'{w} ORDER BY start, "end", text, dbpedia_uri NULLS FIRST'
    return f"""cat0 AS (SELECT *, "end" - start AS len_,
      len(list_distinct(list(dbpedia_uri) OVER ({w}))) AS n_uri,
      len(list_distinct(list(start::VARCHAR || ':' || "end"::VARCHAR) OVER ({w}))) AS n_span,
      coalesce(max("end") OVER ({ws} ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) >= "end", false) AS inner_,
      coalesce(min("end") OVER ({ws} ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) <= "end", false) AS outer_,
      count(*) OVER ({w}, start) > 1 AS start_dup,
      min("end" - start) OVER ({w}) AS min_len,
      max("end" - start) OVER ({w}) AS max_len
    FROM {src}),
  cat1 AS (SELECT *,
      sum(CASE WHEN len_ = min_len THEN 1 ELSE 0 END) OVER ({w}) AS n_min,
      sum(CASE WHEN len_ = max_len THEN 1 ELSE 0 END) OVER ({w}) AS n_max,
      -- any within-pair with distinct indexes: an earlier row covering a
      -- later one (inner_) OR two rows sharing a start (the xid<yid case)
      max(CASE WHEN inner_ OR start_dup THEN 1 ELSE 0 END) OVER ({w}) = 1 AS has_cont
    FROM cat0),
  categorized AS (SELECT *,
      CASE WHEN ovl_id IS NULL THEN NULL
           WHEN n_span = 1 AND n_uri > 1 THEN 'ovl_multiple'
           WHEN NOT has_cont AND n_uri = 1 THEN 'ovl_partial'
           WHEN NOT has_cont AND n_uri > 1 THEN 'ovl_partial|ovl_distinct'
           WHEN len_ = max_len AND n_max = 1 THEN 'ovl_longest'
           WHEN len_ = min_len AND n_min = 1 THEN 'ovl_shortest'
           WHEN outer_ THEN 'ovl_outer'
           WHEN inner_ THEN 'ovl_inner'
           ELSE 'ovl_undetermined' END AS ovl_type
    FROM cat1)"""


FLAG_SELECT = ",\n      ".join(
    f"CASE WHEN ovl_id IS NULL THEN NULL ELSE contains(ovl_type, '{f}') END AS {f}"
    for f in (
        "ovl_longest", "ovl_shortest", "ovl_inner", "ovl_outer",
        "ovl_partial", "ovl_multiple", "ovl_distinct", "ovl_undetermined",
    )
)


def resolve_cte(keep: tuple[str, ...] = ("longest", "shortest"), src: str = "categorized",
                tiebreak: str = "first", omit: tuple[str, ...] = ()) -> str:
    # WHENs in reverse so the LAST matching keep entry wins (reference
    # parity: the R assignment loop overwrites, R/overlaps.R:569-571);
    # an omitted row is marked -1 ahead of every keep entry
    keep_case = "CASE " + " ".join(
        [f"WHEN contains(ovl_type, 'ovl_{o}') THEN -1" for o in omit]
        + [f"WHEN contains(ovl_type, 'ovl_{k}') THEN {i + 1}"
           for i, k in reversed(list(enumerate(keep)))]
    ) + " END"
    if tiebreak == "first":
        order = 'start, "end", text, dbpedia_uri NULLS FIRST'
    elif tiebreak == "hash":
        # mirror of overlaps.resolve_overlap's md5-derived tie key
        order = ("CAST('0x' || substr(md5(start::VARCHAR || '|' || "
                 '"end"::VARCHAR || \'|\' || text || \'|\' || ovl_id), 1, 8) AS BIGINT)'
                 + ', start, "end", text, dbpedia_uri NULLS FIRST')
    else:
        raise ValueError(f"unknown tiebreak {tiebreak!r}")
    return f"""res0 AS (SELECT *, CASE WHEN ovl_id IS NULL THEN NULL ELSE {keep_case} END AS keepv FROM {src}),
  res1 AS (SELECT *,
      min(CASE WHEN keepv > 0 THEN keepv END) OVER (PARTITION BY doc_id, ovl_id) AS pos_min
    FROM res0),
  res2 AS (SELECT *,
      sum(CASE WHEN keepv = pos_min THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id, ovl_id) AS n_at_min,
      CASE WHEN pos_min IS NULL THEN keepv IS NULL ELSE keepv = pos_min END AS cand
    FROM res1),
  res3 AS (SELECT *,
      row_number() OVER (PARTITION BY doc_id, ovl_id
                         ORDER BY CASE WHEN cand THEN 0 ELSE 1 END, {order}) AS rn
    FROM res2),
  resolved AS (
    SELECT * FROM res3
    WHERE ovl_id IS NULL
       OR (CASE WHEN pos_min IS NULL OR n_at_min > 1
                THEN coalesce(cand, false) AND rn = 1
                ELSE coalesce(cand, false) END))"""


def dims_cte() -> str:
    rd = ", ".join(f"('{s}', '{d}')" for s, d in REDIRECT_ROWS)
    sa = ", ".join(f"('{a}', '{b}', '{c}')" for a, b, c in SAMEAS_ROWS)
    return f"""rd(src, dst) AS (VALUES {rd}),
  rc AS (SELECT r1.src, coalesce(r3.dst, r2.dst, r1.dst) AS dst
         FROM rd r1 LEFT JOIN rd r2 ON r1.dst = r2.src
                    LEFT JOIN rd r3 ON r2.dst = r3.src),
  sameas(sa_uri, wikidata_uri, wikidata_id) AS (VALUES {sa})"""


def canonical_cte(src: str = "resolved") -> str:
    return f"""canonical AS (
    SELECT m.*, coalesce(rc.dst, m.dbpedia_uri) AS canonical_uri
    FROM {src} m LEFT JOIN rc ON m.dbpedia_uri = rc.src),
  enriched AS (
    SELECT c.*, s.wikidata_uri, s.wikidata_id
    FROM canonical c LEFT JOIN sameas s ON c.canonical_uri = s.sa_uri)"""


# category mapping used by the `entity_types_map` / `triples` queries
TYPE_MAPPING: list[tuple[str, str]] = [
    ("TOOL", "DBpedia:Software"),
    ("ALGO", "DBpedia:Algorithm"),
    ("OBJ", "DBpedia:Artifact"),
    ("PLACE", "DBpedia:Place"),
]


def category_sql(dtypes_col: str = "dtypes") -> str:
    cases = " ".join(
        f"WHEN t = '{spec.split(':', 1)[1]}' THEN '{cat}'"
        for cat, spec in TYPE_MAPPING
    )
    mapped = (
        f"list_sort(list_distinct(list_filter(list_transform("
        f"string_split({dtypes_col}, '|'), t -> CASE {cases} END), c -> c IS NOT NULL)))"
    )
    return (
        f"CASE WHEN {dtypes_col} IS NULL OR {dtypes_col} = '' OR len({mapped}) = 0 "
        f"THEN 'MISC' ELSE array_to_string({mapped}, '|') END"
    )


def _kg_chain(*parts: str) -> str:
    return "WITH " + ",\n  ".join(parts)


# ---------------------------------------------------------------------------
# per-query oracle SQL
def q_extract_text() -> str:
    return "SELECT doc_id, text AS extracted FROM documents"


def q_segment_invariants() -> str:
    return "SELECT doc_id, true AS ok FROM documents"


def q_spot_mentions() -> str:
    return _kg_chain(lex_cte(), spots_cte()) + "\nSELECT doc_id, start, text FROM spots"


def q_candidates() -> str:
    return (
        _kg_chain(lex_cte(), spots_cte(), cands_cte())
        + "\nSELECT doc_id, start, text, uri, support FROM cands"
    )


def q_disambiguate() -> str:
    return (
        _kg_chain(lex_cte(), spots_cte(), cands_cte(), linked_cte())
        + "\nSELECT doc_id, start, text, dbpedia_uri FROM linked"
    )


def q_type_filter(wanted: str = "Software") -> str:
    return (
        _kg_chain(lex_cte(), spots_cte(), cands_cte(), linked_cte())
        + f"\nSELECT doc_id, start, text, dbpedia_uri FROM linked\n"
        f"WHERE list_contains(string_split(dtypes, '|'), '{wanted}')"
    )


def q_types_pivot() -> str:
    return (
        _kg_chain(lex_cte(), spots_cte(), cands_cte(), linked_cte())
        + "\nSELECT doc_id, start, text,"
        " CASE WHEN dtypes <> '' THEN '|' || dtypes || '|' END AS dbpedia_type,"
        " CASE WHEN wtypes <> '' THEN '|' || wtypes || '|' END AS wikidata_type"
        " FROM linked"
    )


def q_detect_overlap() -> str:
    return (
        _kg_chain(lex_cte(), spots_cte(), cands_cte(), linked_cte(), detect_cte())
        + '\nSELECT doc_id, start, text, "end", ovl_id FROM detected'
    )


def q_categorize_overlap() -> str:
    return (
        _kg_chain(lex_cte(), spots_cte(), cands_cte(), linked_cte(), detect_cte(), categorize_cte())
        + f'\nSELECT doc_id, start, text, ovl_id,\n      {FLAG_SELECT}\nFROM categorized'
    )


def q_overlap_synthesis() -> str:
    """Mirror of the A4 experimental outer/inner synthesis
    (overlaps._synthesize_inner_outer): partial groups -> one outer and
    one inner row; uri list pipe-joined in first-occurrence order of the
    (start, end, uri) sort; 2-member text arithmetic, NULL text beyond."""
    return (
        _kg_chain(
            lex_cte(), spots_cte(), cands_cte(), linked_cte(),
            detect_cte(), categorize_cte(),
            """partial AS (
    SELECT * FROM categorized
    WHERE ovl_type IN ('ovl_partial', 'ovl_partial|ovl_distinct'))""",
            # first occurrence of each uri in (start, end, uri) order ==
            # the uri's minimal (start, end) row; order uris by that key
            """us0 AS (
    SELECT doc_id, ovl_id, dbpedia_uri, start, "end",
      row_number() OVER (PARTITION BY doc_id, ovl_id, dbpedia_uri
                         ORDER BY start, "end") AS rn
    FROM partial)""",
            """uris AS (
    SELECT doc_id, ovl_id,
      string_agg(dbpedia_uri, '|' ORDER BY start, "end", dbpedia_uri) AS uris
    FROM us0 WHERE rn = 1 GROUP BY doc_id, ovl_id)""",
            """synth_base AS (
    SELECT p.doc_id, p.ovl_id, count(*) AS n,
      count(DISTINCT p.dbpedia_uri) AS n_uri,
      min(p.start) AS min_s, max(p.start) AS max_s,
      min(p."end") AS min_e, max(p."end") AS max_e,
      arg_min(p.text, p.start) AS t1, arg_max(p.text, p.start) AS t2,
      arg_min(p."end", p.start) AS e1, any_value(u.uris) AS uris
    FROM partial p JOIN uris u USING (doc_id, ovl_id)
    GROUP BY p.doc_id, p.ovl_id)""",
        )
        + """
SELECT doc_id, ovl_id, start, end_, dbpedia_uri, synth_text, ovl_type FROM (
  SELECT doc_id, ovl_id, min_s AS start, max_e AS end_, uris AS dbpedia_uri,
    CASE WHEN n = 2
         THEN substr(t1, 1, least(e1 - min_s + 1, max_s - min_s)::INT) || t2
    END AS synth_text,
    CASE WHEN n_uri = 1 THEN 'ovl_partial|ovl_outer'
         ELSE 'ovl_partial|ovl_multiple|ovl_outer' END AS ovl_type
  FROM synth_base
  UNION ALL
  SELECT doc_id, ovl_id, max_s, min_e, uris,
    CASE WHEN n = 2 THEN trim(substr(t2, 1, (min_e - max_s + 1)::INT)) END,
    CASE WHEN n_uri = 1 THEN 'ovl_partial|ovl_inner'
         ELSE 'ovl_partial|ovl_multiple|ovl_inner' END
  FROM synth_base)"""
    )


def q_resolve_overlap() -> str:
    return (
        _kg_chain(
            lex_cte(), spots_cte(), cands_cte(), linked_cte(),
            detect_cte(), categorize_cte(), resolve_cte(),
        )
        + "\nSELECT doc_id, start, text, dbpedia_uri, ovl_id FROM resolved"
    )


def q_resolve_overlap_hash() -> str:
    return (
        _kg_chain(
            lex_cte(), spots_cte(), cands_cte(), linked_cte(),
            detect_cte(), categorize_cte(), resolve_cte(tiebreak="hash"),
        )
        + "\nSELECT doc_id, start, text, dbpedia_uri, ovl_id FROM resolved"
    )


def q_entity_types() -> str:
    return (
        _kg_chain(lex_cte(), spots_cte(), cands_cte(), linked_cte())
        + f"\nSELECT doc_id, start, text, {category_sql()} AS category FROM linked"
    )


def q_canonicalize() -> str:
    return (
        _kg_chain(
            lex_cte(), spots_cte(), cands_cte(), linked_cte(),
            detect_cte(), categorize_cte(), resolve_cte(), dims_cte(), canonical_cte(),
        )
        + "\nSELECT doc_id, start, text, canonical_uri, wikidata_id FROM enriched"
    )


def q_wikidata_props() -> str:
    lb = ", ".join(f"('{a}', '{b}', '{c}', '{d}')" for a, b, c, d in LABEL_ROWS)
    return (
        _kg_chain(
            lex_cte(), spots_cte(), cands_cte(), linked_cte(),
            detect_cte(), categorize_cte(), resolve_cte(), dims_cte(), canonical_cte(),
            f"labels(wikidata_id, label, prop_id, prop_label) AS (VALUES {lb})",
            """collapsed AS (
    SELECT wikidata_id,
           array_to_string(list_sort(list_distinct(list(prop_label))), '|') AS prop_labels
    FROM labels GROUP BY wikidata_id)""",
        )
        + "\nSELECT e.doc_id, e.start, e.canonical_uri, c.prop_labels"
        "\nFROM enriched e LEFT JOIN collapsed c USING (wikidata_id)"
    )


def q_triples() -> str:
    return (
        _kg_chain(
            lex_cte(), spots_cte(), cands_cte(), linked_cte(),
            detect_cte(), categorize_cte(), resolve_cte(), dims_cte(), canonical_cte(),
            f"typed AS (SELECT *, {category_sql()} AS category FROM enriched)",
        )
        + """
SELECT subj, pred, obj FROM (
  SELECT canonical_uri AS subj, 'kg:mentionedIn' AS pred, doc_id::VARCHAR AS obj FROM typed
  UNION
  SELECT canonical_uri, 'kg:anchorOf', text FROM typed
  UNION
  SELECT canonical_uri, 'rdf:type', 'dbo:' || unnest(string_split(dtypes, '|')) FROM typed WHERE dtypes <> ''
  UNION
  SELECT canonical_uri, 'owl:sameAs', wikidata_uri FROM typed WHERE wikidata_uri IS NOT NULL
  UNION
  SELECT canonical_uri, 'kg:category', category FROM typed WHERE category IS NOT NULL
)"""
    )


# ---------------------------------------------------------------------------
# alignment
def token_cte() -> str:
    return """tt0 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
  tt1 AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS cpos FROM tt0),
  tok AS (SELECT doc_id, cpos, ws[cpos] AS word,
      1 + coalesce(sum(length(ws[cpos]) + 1) OVER (PARTITION BY doc_id ORDER BY cpos
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS begin_
    FROM tt1),
  tok2 AS (SELECT doc_id, cpos, word, begin_, begin_ + length(word) - 1 AS end_ FROM tok)"""


def align_cte(src: str = "spots", exact: bool = False) -> str:
    left_op, right_op = ("=", "=") if exact else ("<=", ">=")
    return f"""m AS (SELECT doc_id, start, text, start + length(text) - 1 AS m_end FROM {src}),
  aligned AS (
    SELECT m.doc_id, m.start, m.text, m.m_end AS "end",
      max(CASE WHEN t.begin_ {left_op} m.start THEN t.cpos END) AS cpos_left,
      min(CASE WHEN t.end_ {right_op} m.m_end THEN t.cpos END) AS cpos_right,
      coalesce(array_to_string(
        list(t.word ORDER BY t.cpos) FILTER (WHERE t.begin_ >= m.start AND t.end_ <= m.m_end),
        '|'), '') AS covered_words
    FROM m JOIN tok2 t USING (doc_id)
    GROUP BY m.doc_id, m.start, m.text, m.m_end)"""


def q_align_tokens() -> str:
    return (
        _kg_chain(lex_cte(), spots_cte(), token_cte(), align_cte())
        + '\nSELECT doc_id, start, text, "end", cpos_left, cpos_right, covered_words FROM aligned'
    )


def q_align_exact() -> str:
    """expand_to_token=FALSE: only exact token-boundary hits align."""
    return (
        _kg_chain(lex_cte(), spots_cte(), token_cte(), align_cte(exact=True))
        + '\nSELECT doc_id, start, text, "end", cpos_left, cpos_right, covered_words FROM aligned'
    )


def q_align_regions(tokens_per_region: int = 10) -> str:
    return (
        _kg_chain(
            lex_cte(), spots_cte(), token_cte(), align_cte(),
            f"""regions AS (
    SELECT doc_id, cast(floor((cpos - 1) / {tokens_per_region}) AS BIGINT) AS struc_id,
           min(cpos) AS region_cpos_l, max(cpos) AS region_cpos_r
    FROM tok2 GROUP BY 1, 2)""",
        )
        + """
SELECT a.doc_id, a.start, a.text, r.struc_id, r.region_cpos_l AS cpos_left, r.region_cpos_r AS cpos_right
FROM aligned a JOIN regions r
  ON a.doc_id = r.doc_id AND a.cpos_left BETWEEN r.region_cpos_l AND r.region_cpos_r"""
    )


# ---------------------------------------------------------------------------
# text analysis
def _in_list(items: list[str]) -> str:
    return ", ".join(f"'{i}'" for i in items)


def q_lang_id() -> str:
    counts = ",\n    ".join(
        rf"len(list_filter(string_split_regex(lower(text), '\s+'), t -> t IN ({_in_list(ms)}))) AS c_{lang}"
        for lang, ms in LANG_MARKERS.items()
    )
    langs = list(LANG_MARKERS)
    m = "greatest(" + ", ".join(f"c_{lang}" for lang in langs) + ")"
    case = " ".join(f"WHEN c_{lang} = m THEN '{lang}'" for lang in langs)
    return f"""WITH c AS (SELECT doc_id,
    {counts}
  FROM documents),
  mm AS (SELECT *, {m} AS m FROM c)
SELECT doc_id, CASE WHEN m = 0 THEN 'und' {case} ELSE 'und' END AS lang_pred FROM mm"""


def q_quality() -> str:
    stop = _in_list(EN_STOPWORDS)
    return rf"""WITH q AS (SELECT doc_id,
    len(string_split_regex(text, '\s+'))::DOUBLE AS n,
    len(list_filter(string_split_regex(lower(text), '\s+'), t -> t IN ({stop})))::DOUBLE AS n_stop,
    length(regexp_replace(text, '[A-Za-z0-9 \t\n]', '', 'g'))::DOUBLE AS n_punct,
    length(text)::DOUBLE AS n_chars
  FROM documents)
SELECT doc_id, round(
    0.4 * least(1.0, n / 100.0)
  + 0.3 * (CASE WHEN n > 0 THEN n_stop / n ELSE 0 END)
  + 0.3 * (1.0 - CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0 END), 6) AS quality
FROM q"""


def q_token_counts() -> str:
    return rf"""SELECT doc_id,
  len(string_split_regex(text, '\s+')) AS n_ws,
  len(regexp_extract_all(text, '{BPE_PATTERN}')) AS n_bpe
FROM documents"""


def q_fingerprint() -> str:
    return r"SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint FROM documents"


# Synthesized-PII corpus: must stay in lockstep with __spark_entry__._pii_docs.
_PII_CTE = """p AS (SELECT doc_id, text
    || CASE WHEN doc_id % 3 <> 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
    || CASE WHEN doc_id % 4 <> 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 200 AS VARCHAR) ELSE '' END
    || CASE WHEN doc_id % 5 <> 0 THEN ' call +1 (555) 010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
    AS text FROM documents)"""


def q_pii_scrub() -> str:
    """Sequential email -> IPv4 -> phone redaction, counts taken at each
    stage on the not-yet-redacted text (mirrors textops.pii_counts)."""
    return f"""WITH {_PII_CTE},
  s1 AS (SELECT doc_id, text, regexp_replace(text, '{EMAIL_PATTERN}', '<EMAIL>', 'g') AS t1 FROM p),
  s2 AS (SELECT doc_id, text, t1, regexp_replace(t1, '{IPV4_PATTERN}', '<IP>', 'g') AS t2 FROM s1)
SELECT doc_id,
  len(regexp_extract_all(text, '{EMAIL_PATTERN}')) AS n_emails,
  len(regexp_extract_all(t1, '{IPV4_PATTERN}')) AS n_ips,
  len(regexp_extract_all(t2, '{PHONE_PATTERN}')) AS n_phones,
  md5(regexp_replace(t2, '{PHONE_PATTERN}', '<PHONE>', 'g')) AS clean_fp
FROM s2"""


def q_repetition_stats() -> str:
    """Gopher-style repetition stats over line-synthesized text (' the '
    -> newline, mirroring __spark_entry__.q_repetition_stats)."""
    return r"""WITH d AS (SELECT doc_id, replace(text, ' the ', chr(10)) AS text FROM documents),
  arrs AS (SELECT doc_id, text,
    list_filter(string_split(text, chr(10)), l -> length(l) > 0) AS lines,
    list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0) AS toks
  FROM d),
  st AS (SELECT doc_id,
    len(toks) AS n_words,
    round(CASE WHEN len(lines) > 0 THEN 1.0 - len(list_distinct(lines)) / len(lines) ELSE 0.0 END, 6) AS dup_line_frac,
    round(CASE WHEN len(toks) > 0 THEN 1.0 - len(list_distinct(toks)) / len(toks) ELSE 0.0 END, 6) AS dup_word_frac,
    round(CASE WHEN len(toks) > 0 THEN list_sum(list_transform(toks, t -> length(t))) / len(toks) ELSE 0.0 END, 6) AS mean_word_len,
    round(CASE WHEN len(toks) > 0 THEN len(regexp_extract_all(text, '#|\.\.\.')) / len(toks) ELSE 0.0 END, 6) AS symbol_word_ratio
  FROM arrs)
SELECT *,
  (n_words >= 50 AND n_words <= 100000
   AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
   AND dup_line_frac <= 0.30 AND symbol_word_ratio <= 0.10) AS gopher_keep
FROM st"""


# Synthesized-URL corpus: must stay in lockstep with __spark_entry__._url_docs.
_URL_CTE = """u AS (SELECT doc_id,
    (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTPS://' END)
    || source
    || (CASE WHEN doc_id % 2 = 0 THEN '.Example.COM' ELSE '.example.com' END)
    || (CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END)
    || '/page/' || CAST(doc_id % 50 AS VARCHAR)
    || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
    || (CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed' ELSE '' END)
    || (CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END)
    AS url FROM documents)"""

_URL_NORM = r"""norm AS (SELECT doc_id,
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
    || '://'
    || regexp_replace(lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)), ':(80|443)$', '')
    || regexp_replace(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/$', '')
    AS url_norm,
    regexp_replace(lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)), ':(80|443)$', '') AS host
  FROM u)"""


def q_url_normalize() -> str:
    return f"WITH {_URL_CTE},\n  {_URL_NORM}\nSELECT doc_id, url_norm, host FROM norm"


def q_vocabulary_stats(k: int = 100) -> str:
    return rf"""WITH w AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                    t -> length(t) > 0)) AS word
  FROM documents)
SELECT word, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
FROM w GROUP BY word ORDER BY n_occurrences DESC, word LIMIT {k}"""


def q_pack_sequences(budget: int = 2048, n_shards: int = 8) -> str:
    """Window-cumsum mirror of textops.pack_sequences."""
    return rf"""WITH t AS (SELECT doc_id, doc_id % {n_shards} AS shard,
    len(string_split_regex(text, '\s+')) AS n_tokens FROM documents),
  c AS (SELECT *,
    sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) - n_tokens AS start
  FROM t)
SELECT doc_id, shard, n_tokens,
  CAST(start // {budget} AS BIGINT) AS pack_id,
  CAST(start % {budget} AS BIGINT) AS pack_offset
FROM c"""


def q_corpus_filter(quality_floor: float = 0.5) -> str:
    """Composed C4/Gopher-style keep decision: language -> quality ->
    repetition, first failing rule wins (mirrors __spark_entry__.
    q_corpus_filter); built by nesting the three already-mirrored
    component queries as derived tables."""
    return f"""SELECT l.doc_id,
  (CASE WHEN l.lang_pred NOT IN ('en', 'und') THEN 'lang'
        WHEN q.quality < {quality_floor} THEN 'quality'
        WHEN NOT r.gopher_keep THEN 'repetition'
        ELSE 'ok' END) = 'ok' AS keep,
  CASE WHEN l.lang_pred NOT IN ('en', 'und') THEN 'lang'
       WHEN q.quality < {quality_floor} THEN 'quality'
       WHEN NOT r.gopher_keep THEN 'repetition'
       ELSE 'ok' END AS reason
FROM ({q_lang_id()}) l
JOIN ({q_quality()}) q ON l.doc_id = q.doc_id
JOIN ({q_repetition_stats()}) r ON l.doc_id = r.doc_id"""


def q_url_host_stats() -> str:
    return f"""WITH {_URL_CTE},
  {_URL_NORM}
SELECT host, count(*) AS n_docs, count(DISTINCT url_norm) AS n_urls,
  round(1.0 - count(DISTINCT url_norm) / count(*), 6) AS dup_url_frac
FROM norm GROUP BY host"""


# ---------------------------------------------------------------------------
# dedup
def q_dedup_exact() -> str:
    return r"""WITH fp AS (
  SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint FROM documents),
  rep AS (SELECT fingerprint, min(doc_id) AS rep_id FROM fp GROUP BY 1)
SELECT f.doc_id, f.fingerprint, r.rep_id, f.doc_id <> r.rep_id AS is_dup
FROM fp f JOIN rep r USING (fingerprint)"""


def _minhash_sql(k: int, char_mode: bool, shingle_n: int) -> str:
    if char_mode:
        shingles = (
            f"list_distinct(list_transform(generate_series(1, greatest(length(lower(text)) - {shingle_n - 1}, 0)),"
            f" i -> substr(lower(text), i, {shingle_n})))"
        )
        base = f"SELECT doc_id, {shingles} AS shingles FROM documents"
    else:
        parts = " || ' ' || ".join(f"toks[i + {j}]" for j in range(shingle_n))
        base = rf"""SELECT doc_id, list_distinct(list_transform(
        generate_series(1, greatest(len(toks) - {shingle_n - 1}, 0)), i -> {parts})) AS shingles
      FROM (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents)"""
    # universal-hash permutations — constants mirror kgspark.dedup.minhash_perms
    P = 4294967311
    perms = [(2 * j + 3, (j * 2654435761) % P) for j in range(k)]
    sigs = ", ".join(
        f"list_min(list_transform(sh_hash, h -> (h * {a} + {b}) % {P}))" for a, b in perms
    )
    return f"""sh AS (SELECT * FROM ({base}) WHERE len(shingles) > 0),
  hsh AS (SELECT doc_id, shingles,
      list_transform(shingles, s -> cast('0x' || substr(md5(s), 1, 8) AS BIGINT)) AS sh_hash
    FROM sh),
  sig AS (SELECT doc_id, shingles, [{sigs}] AS sig FROM hsh)"""


def _band_sql(bands: int, rows_per_band: int, max_bucket_size: int = 1000) -> str:
    # max_bucket_size mirrors dedup.lsh_candidate_pairs' head-bucket cap:
    # band buckets larger than the cap produce no candidate pairs.
    unions = "\n    UNION ALL\n    ".join(
        "SELECT doc_id, {b} AS band_id, {key} AS band_key FROM sig".format(
            b=b,
            key=" || '-' || ".join(
                f"sig[{b * rows_per_band + r + 1}]::VARCHAR" for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return f"""band0 AS (
    {unions}),
  band AS (
    SELECT * FROM band0
    QUALIFY count(*) OVER (PARTITION BY band_id, band_key) <= {max_bucket_size}),
  cand_pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM band a JOIN band b ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id)"""


def q_dedup_minhash(k: int = 16, bands: int = 4, threshold: float = 0.5,
                    char_mode: bool = False, shingle_n: int = 3) -> str:
    return (
        "WITH "
        + _minhash_sql(k, char_mode, shingle_n)
        + ",\n  "
        + _band_sql(bands, k // bands)
        + f"""
SELECT doc_a, doc_b, jaccard FROM (
  SELECT p.doc_a, p.doc_b,
    round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
          / len(list_distinct(list_concat(a.shingles, b.shingles))), 6) AS jaccard
  FROM cand_pairs p JOIN sh a ON p.doc_a = a.doc_id JOIN sh b ON p.doc_b = b.doc_id)
WHERE jaccard >= {threshold}"""
    )


def q_dedup_components(k: int = 16, bands: int = 4, threshold: float = 0.5,
                       char_mode: bool = False, shingle_n: int = 3) -> str:
    """Connected components over the MinHash-verified pairs: min reachable
    node id == component minimum (undirected reachability via a recursive
    CTE — the twin of min-label propagation: ``dedup.connected_components``
    reaches the same fixpoint, with hooking and pointer jumping)."""
    return (
        "WITH RECURSIVE "
        + _minhash_sql(k, char_mode, shingle_n)
        + ",\n  "
        + _band_sql(bands, k // bands)
        + f""",
  verified AS (
    SELECT doc_a, doc_b FROM (
      SELECT p.doc_a, p.doc_b,
        round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
              / len(list_distinct(list_concat(a.shingles, b.shingles))), 6) AS jaccard
      FROM cand_pairs p JOIN sh a ON p.doc_a = a.doc_id JOIN sh b ON p.doc_b = b.doc_id)
    WHERE jaccard >= {threshold}),
  e AS (
    SELECT doc_a AS x, doc_b AS y FROM verified
    UNION
    SELECT doc_b AS x, doc_a AS y FROM verified),
  reach(v, l) AS (
    SELECT x, x FROM (SELECT DISTINCT x FROM e)
    UNION
    SELECT e.x, r.l FROM e JOIN reach r ON e.y = r.v)
SELECT v AS node, min(l) AS component FROM reach GROUP BY v"""
    )


def q_contamination(n: int = 5, bench_max_id: int = 20) -> str:
    """Word-n-gram overlap vs the benchmark slice (doc_id < bench_max_id),
    mirroring dedup.contamination over the same deterministic split."""
    parts = " || ' ' || ".join(f"toks[i + {j}]" for j in range(n))
    return rf"""WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
  sh AS (SELECT doc_id, list_distinct(list_transform(
      generate_series(1, greatest(len(toks) - {n - 1}, 0)), i -> {parts})) AS shingles FROM t),
  bench AS (SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE doc_id < {bench_max_id}),
  docsh AS (SELECT doc_id, len(shingles) AS n_shingles, unnest(shingles) AS s
            FROM sh WHERE doc_id >= {bench_max_id})
SELECT doc_id, count(*) AS n_hits,
  round(count(*) / any_value(n_shingles), 6) AS hit_frac
FROM docsh JOIN bench USING (s) GROUP BY doc_id"""


def q_dedup_simhash(bits: int = 16, max_hamming: int = 2, n_bands: int | None = None) -> str:
    from kgspark.dedup import simhash_bands

    if n_bands is None:
        n_bands = max_hamming + 1
    bit_sums = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}" for b in range(bits)
    )
    assemble = " + ".join(f"CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(bits))
    band_union = "\n    UNION ALL\n    ".join(
        f"SELECT doc_id, simhash, {j} AS band_id, (simhash >> {shift}) % {1 << width} AS band_key FROM sh"
        for j, (shift, width) in enumerate(simhash_bands(bits, n_bands))
    )
    return rf"""WITH tok AS (
    SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS t FROM documents),
  th AS (SELECT doc_id, cast('0x' || substr(md5(t), 1, 4) AS BIGINT) AS h FROM tok),
  bs AS (SELECT doc_id, {bit_sums} FROM th GROUP BY doc_id),
  sh AS (SELECT doc_id, {assemble} AS simhash FROM bs),
  band AS (
    {band_union}),
  pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.simhash AS h_a, b.simhash AS h_b
    FROM band a JOIN band b ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, bit_count(xor(h_a, h_b)) AS hamming
FROM pairs WHERE bit_count(xor(h_a, h_b)) <= {max_hamming}"""


# ---------------------------------------------------------------------------
# embeddings
COS = (
    "round(list_dot_product(a_, b_) / (sqrt(list_dot_product(a_, a_)) * sqrt(list_dot_product(b_, b_))), 6)"
)


def q_embed_neardup(threshold: float = 0.4) -> str:
    # normalize-then-dot mirrors similarity.embedding_near_duplicates:
    # unit vectors once per vector, pair score = plain dot product.
    return f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
  u AS (SELECT vec_id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS v FROM e)
SELECT vec_a, vec_b, sim FROM (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
    round(list_dot_product(a.v, b.v), 6) AS sim
  FROM u a JOIN u b ON a.vec_id < b.vec_id)
WHERE sim >= {threshold}"""


def _lsh_ctes(query_ids: tuple[int, ...], k: int, n_planes: int, n_tables: int,
              seed: int, dim: int, multiprobe: bool = False) -> str:
    """Shared CTE chain mirroring kgspark.similarity.hyperplane_lsh_topk:
    same seeded hyperplane constants, same rounded sign test, same
    multi-table (tbl, bucket) equi-join + (sim desc, neighbor_id) ranking;
    ``multiprobe`` mirrors the query-side 1-bit-flip bucket expansion."""
    from kgspark.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_planes * n_tables, seed)
    plane_lits = ["[" + ", ".join(repr(float(v)) for v in p) + "]" for p in planes]

    def bucket(t: int) -> str:
        return " + ".join(
            f"(CASE WHEN round(list_dot_product(v, {plane_lits[t * n_planes + i]}), 6) > 0 THEN {1 << i} ELSE 0 END)"
            for i in range(n_planes)
        )

    table_union = "\n    UNION ALL\n    ".join(
        f"SELECT vec_id, v, {t} AS tbl, {bucket(t)} AS bucket FROM e"
        for t in range(n_tables)
    )
    ids = ", ".join(str(i) for i in query_ids)
    if multiprobe:
        flip_rows = ", ".join(f"({f})" for f in [0] + [1 << i for i in range(n_planes)])
        q_cte = (
            f"q0 AS (SELECT vec_id AS query_id, tbl AS qtbl, bucket AS qbucket FROM sk WHERE vec_id IN ({ids})),\n"
            f"  q AS (SELECT query_id, qtbl, xor(qbucket, fl.flip) AS qbucket FROM q0 CROSS JOIN (VALUES {flip_rows}) AS fl(flip))"
        )
    else:
        q_cte = f"q AS (SELECT vec_id AS query_id, tbl AS qtbl, bucket AS qbucket FROM sk WHERE vec_id IN ({ids}))"
    return f"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
  sk AS (
    {table_union}),
  {q_cte},
  lsh_pairs AS (
    SELECT DISTINCT q.query_id, s.vec_id AS neighbor_id
    FROM q JOIN sk s ON s.tbl = q.qtbl AND s.bucket = q.qbucket AND s.vec_id <> q.query_id),
  lsh_sims AS (
    SELECT p.query_id, p.neighbor_id,
      round(list_dot_product(qe.v, ne.v) / (sqrt(list_dot_product(qe.v, qe.v)) * sqrt(list_dot_product(ne.v, ne.v))), 6) AS sim
    FROM lsh_pairs p JOIN e qe ON qe.vec_id = p.query_id JOIN e ne ON ne.vec_id = p.neighbor_id),
  lsh_ranked AS (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
    FROM lsh_sims),
  lsh_topk AS (SELECT query_id, neighbor_id, rank FROM lsh_ranked WHERE rank <= {k})"""


def q_ann_lsh(query_ids: tuple[int, ...] = (0, 1, 2, 3, 4), k: int = 5,
              n_planes: int = 4, n_tables: int = 1, seed: int = 42, dim: int = 64,
              multiprobe: bool = False) -> str:
    return (
        "WITH " + _lsh_ctes(query_ids, k, n_planes, n_tables, seed, dim, multiprobe)
        + "\nSELECT query_id, neighbor_id, rank FROM lsh_topk"
    )


def q_ann_ivf(query_ids: tuple[int, ...] = (0, 1, 2, 3, 4), k: int = 5,
              n_centroids: int = 16, nprobe: int = 2, iters: int = 10,
              seed: int = 42, sample: int = 4096,
              sf_dir: str = "/root/testdata/sf0.01") -> str:
    """IVF coarse-quantizer mirror of similarity.ivf_topk.

    The codebook is trained HERE with the same numpy Lloyd core on the
    same sample (first ``sample`` vec_ids of ``sf_dir``) as the Spark
    query, then embedded as literal DOUBLE[] centroids — so the SQL is
    self-contained and bit-matches whenever the Spark side runs on the
    same sf (the driver gate's sf0.01 by default)."""
    import duckdb as _dd
    import numpy as _np

    from kgspark.similarity import lloyd_kmeans

    rows = _dd.connect().execute(
        f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' "
        f"ORDER BY vec_id LIMIT {sample}"
    ).fetchall()
    cents = lloyd_kmeans(
        _np.array([r[0] for r in rows], dtype=_np.float64),
        n_centroids=n_centroids, iters=iters, seed=seed,
    )

    def lit(c: list[float]) -> str:
        return "[" + ", ".join(repr(float(v)) for v in c) + "]::DOUBLE[]"

    def d2(c: list[float], col: str = "v") -> str:
        return (
            f"round(list_sum(list_transform(list_zip({col}, " + lit(c)
            + "), z -> (z[1] - z[2]) * (z[1] - z[2]))), 6)"
        )

    dist_arr = "[" + ",\n      ".join(d2(c) for c in cents) + "]"
    q_branches = "\n    UNION ALL\n    ".join(
        f"SELECT query_id, qvec, {j + 1} AS cell, {d2(c, 'qvec')} AS d FROM q0"
        for j, c in enumerate(cents)
    )
    ids = ", ".join(str(i) for i in query_ids)
    sim = ("round(list_dot_product(qvec, nvec) / "
           "(sqrt(list_dot_product(qvec, qvec)) * sqrt(list_dot_product(nvec, nvec))), 6)")
    return f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
  corpus AS (
    SELECT vec_id AS neighbor_id, v AS nvec,
      list_position(dists, list_min(dists)) AS cell
    FROM (SELECT vec_id, v, {dist_arr} AS dists FROM e)),
  q0 AS (SELECT vec_id AS query_id, v AS qvec FROM e WHERE vec_id IN ({ids})),
  qd AS (
    {q_branches}),
  probes AS (
    SELECT query_id, qvec, cell FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY d, cell) AS rn
      FROM qd) WHERE rn <= {nprobe}),
  cand AS (
    SELECT p.query_id, p.qvec, c.neighbor_id, c.nvec
    FROM probes p JOIN corpus c ON c.cell = p.cell AND c.neighbor_id <> p.query_id),
  sims AS (SELECT query_id, neighbor_id, {sim} AS sim FROM cand)
SELECT query_id, neighbor_id, rank, sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM sims) WHERE rank <= {k}"""


def q_ann_recall(query_ids: tuple[int, ...] = (0, 1, 2, 3, 4), k: int = 5,
                 n_planes: int = 4, n_tables: int = 1, seed: int = 42, dim: int = 64,
                 multiprobe: bool = False) -> str:
    ids = ", ".join(str(i) for i in query_ids)
    return (
        "WITH " + _lsh_ctes(query_ids, k, n_planes, n_tables, seed, dim, multiprobe)
        + f""",
  bq AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN ({ids})),
  b_sims AS (
    SELECT bq.query_id, e.vec_id AS neighbor_id,
      round(list_dot_product(bq.qv, e.v) / (sqrt(list_dot_product(bq.qv, bq.qv)) * sqrt(list_dot_product(e.v, e.v))), 6) AS sim
    FROM bq JOIN e ON e.vec_id <> bq.query_id),
  brute AS (
    SELECT query_id, neighbor_id,
      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
    FROM b_sims QUALIFY rank <= {k}),
  hits AS (
    SELECT b.query_id, count(l.neighbor_id) AS n_hits
    FROM brute b LEFT JOIN lsh_topk l USING (query_id, neighbor_id)
    GROUP BY b.query_id),
  bases AS (SELECT query_id, count(*) AS n_brute FROM brute GROUP BY query_id)
SELECT bases.query_id, coalesce(hits.n_hits, 0) AS n_hits,
  round(coalesce(hits.n_hits, 0)::DOUBLE / bases.n_brute, 6) AS recall
FROM bases LEFT JOIN hits USING (query_id)"""
    )


def q_embed_neardup_lsh(threshold: float = 0.4, n_planes: int = 4,
                        n_tables: int = 8, seed: int = 42, dim: int = 64,
                        multiprobe: bool = False,
                        hamming_prefilter: bool = False, sig_bits: int = 248,
                        sig_seed: int = 1042, sig_slack: float = 3.0) -> str:
    """Bucketed near-duplicate mirror: same multi-table sketch as the Spark
    operator, candidate = same-bucket collision in any table; with
    ``multiprobe`` the a-side additionally probes 1-bit-flip buckets; with
    ``hamming_prefilter`` the same wide sign signature + bit_count(xor)
    gate as the operator (identical planes and cutoff, raw-sign test on
    list_dot_product — bit-identical to the Arrow kernel's fold order)."""
    from kgspark.similarity import (
        SIG_WORD_BITS, _hyperplanes, hamming_cutoff,
    )

    planes = _hyperplanes(dim, n_planes * n_tables, seed)
    plane_lits = ["[" + ", ".join(repr(float(v)) for v in p) + "]" for p in planes]

    def bucket(t: int) -> str:
        return " + ".join(
            f"(CASE WHEN round(list_dot_product(v, {plane_lits[t * n_planes + i]}), 6) > 0 THEN {1 << i} ELSE 0 END)"
            for i in range(n_planes)
        )

    table_union = "\n    UNION ALL\n    ".join(
        f"SELECT vec_id, v, {t} AS tbl, {bucket(t)} AS bucket FROM e"
        for t in range(n_tables)
    )
    if multiprobe:
        flips = "[" + ", ".join(str(f) for f in [0] + [1 << i for i in range(n_planes)]) + "]"
        probe_cte = f""",
  probes AS (
    SELECT vec_id, tbl, xor(bucket, unnest({flips})) AS bucket FROM sk)"""
        a_side = "probes"
    else:
        probe_cte = ""
        a_side = "sk"
    sig_cte, sig_join, sig_where = "", "", ""
    if hamming_prefilter:
        sig_planes = _hyperplanes(dim, sig_bits, sig_seed)
        sig_lits = ["[" + ", ".join(repr(float(v)) for v in p) + "]" for p in sig_planes]
        n_words = (sig_bits + SIG_WORD_BITS - 1) // SIG_WORD_BITS
        words = []
        for w in range(n_words):
            terms = " + ".join(
                f"(CASE WHEN list_dot_product(v, {sig_lits[w * SIG_WORD_BITS + i]}) > 0 THEN (1::BIGINT << {i}) ELSE 0::BIGINT END)"
                for i in range(min(SIG_WORD_BITS, sig_bits - w * SIG_WORD_BITS))
            )
            words.append(f"{terms} AS s{w}")
        cutoff = hamming_cutoff(threshold, sig_bits, sig_slack)
        sig_cte = f""",
  sigs AS (SELECT vec_id, {", ".join(words)} FROM e)"""
        sig_join = " JOIN sigs sa ON sa.vec_id = a.vec_id JOIN sigs sb ON sb.vec_id = b.vec_id"
        # bit_count returns TINYINT in DuckDB — widen before summing words
        hamming = " + ".join(
            f"bit_count(xor(sa.s{w}, sb.s{w}))::INTEGER" for w in range(n_words)
        )
        sig_where = f" AND {hamming} <= {cutoff}"
    return f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
  u AS (SELECT vec_id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS v FROM e),
  sk AS (
    {table_union}){probe_cte}{sig_cte},
  pairs AS (
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM {a_side} a JOIN sk b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id{sig_join}
    WHERE TRUE{sig_where})
SELECT vec_a, vec_b, sim FROM (
  SELECT p.vec_a, p.vec_b,
    round(list_dot_product(ea.v, eb.v), 6) AS sim
  FROM pairs p JOIN u ea ON ea.vec_id = p.vec_a JOIN u eb ON eb.vec_id = p.vec_b)
WHERE sim >= {threshold}"""


def q_embed_topk(query_ids: tuple[int, ...] = (0, 1, 2, 3, 4), k: int = 5) -> str:
    ids = ", ".join(str(i) for i in query_ids)
    return f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
  q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN ({ids})),
  sims AS (
    SELECT q.query_id, e.vec_id AS neighbor_id,
      round(list_dot_product(q.qv, e.v) / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))), 6) AS sim
    FROM q JOIN e ON e.vec_id <> q.query_id),
  ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM sims)
SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= {k}"""


# ---------------------------------------------------------------------------
# events / star schema
def q_sessionize(gap_minutes: int = 30) -> str:
    return f"""WITH s0 AS (
    SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM events),
  s1 AS (SELECT *,
      CASE WHEN prev_ts IS NULL
                OR (cast(floor(epoch(ts)) AS BIGINT) - cast(floor(epoch(prev_ts)) AS BIGINT)) > {gap_minutes * 60}
           THEN 1 ELSE 0 END AS is_new
    FROM s0),
  s2 AS (SELECT *,
      sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_n
    FROM s1)
SELECT user_id, user_id::VARCHAR || '-' || sess_n::VARCHAR AS session_id,
  count(*) AS n_events,
  min(cast(floor(epoch(ts)) AS BIGINT)) AS session_start,
  max(cast(floor(epoch(ts)) AS BIGINT)) AS session_end,
  round(sum(value), 6) AS total_value
FROM s2 GROUP BY user_id, sess_n"""


def q_tpch_pricing() -> str:
    return """SELECT l_returnflag, l_linestatus,
  cast(sum(cast(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
  cast(sum(cast(l_extendedprice AS DECIMAL(18,4)) * cast(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
  count(*) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus"""


def q_nation_revenue() -> str:
    return """SELECT n.n_name,
  cast(sum(cast(l.l_extendedprice AS DECIMAL(18,4)) * cast(1 - l.l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
  count(*) AS n_lineitems
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name"""


def q_latest_order() -> str:
    return """SELECT o_custkey, o_orderkey FROM (
  SELECT o_custkey, o_orderkey,
    row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders) WHERE rn = 1"""


def q_token_decode(stoplist: tuple[str, ...] = ("the", "a")) -> str:
    stop = _in_list(list(stoplist))
    return (
        "WITH "
        + token_cte()
        + f"""
SELECT doc_id,
  array_to_string(list(word ORDER BY cpos) FILTER (WHERE word NOT IN ({stop})), ' ') AS text
FROM tok2 GROUP BY doc_id"""
    )


def q_highlight() -> str:
    """Full as_subcorpus payload: color + href + tooltip + cpos matrix
    (R/utils.R:157-166)."""
    return (
        _kg_chain(
            lex_cte(), spots_cte(), cands_cte(), linked_cte(),
            token_cte(), align_cte(src="linked"),
        )
        + f"""
SELECT t.doc_id, t.start, t.text, t.category,
  CASE t.category WHEN 'PERSON' THEN 'yellow' WHEN 'LOCATION' THEN 'lightgreen'
       WHEN 'ORGANIZATION' THEN 'lightskyblue' WHEN 'MISC' THEN 'lightgrey'
       ELSE 'lavender' END AS color,
  t.dbpedia_uri AS href,
  coalesce(t.dbpedia_uri, '[no uri]') AS tooltip,
  a.cpos_left, a.cpos_right
FROM (SELECT doc_id, start, text, dbpedia_uri, {category_sql()} AS category FROM linked) t
JOIN aligned a USING (doc_id, start, text)"""
    )


def q_tei_features(n: int = 100) -> str:
    """Pre-annotated NE spans: the TEI template wraps the first two words
    in <tei:name type="NE"> — feature_id/kind/span/text per
    to_annotation's feature path (R/dbpedia.R:255-303)."""
    return f"""SELECT doc_id,
  't0_name' AS feature_id,
  'NE' AS kind,
  1::BIGINT AS start,
  (length(split_part(text, ' ', 1)) + 1 + length(split_part(text, ' ', 2)))::BIGINT AS "end",
  split_part(text, ' ', 1) || ' ' || split_part(text, ' ', 2) AS text
FROM documents
WHERE doc_id < {n} AND len(string_split(text, ' ')) >= 3"""


def q_tei_enrich(n: int = 50) -> str:
    """K2 roundtrip: enrich_tei wrote ref='dbr:E<doc_id>' type='NE' around
    the first two tokens; re-parsing must recover exactly these rows."""
    return f"""SELECT doc_id,
  't0_name' AS feature_id,
  'NE' AS kind,
  'dbr:E' || doc_id::VARCHAR AS ref,
  1::BIGINT AS start,
  (length(split_part(text, ' ', 1)) + 1 + length(split_part(text, ' ', 2)))::BIGINT AS "end",
  split_part(text, ' ', 1) || ' ' || split_part(text, ' ', 2) AS text
FROM documents
WHERE doc_id < {n} AND len(string_split(text, ' ')) >= 3"""


def q_lexicon_lookup(query: str = "join", max_results: int = 5) -> str:
    return (
        "WITH "
        + lex_cte()
        + f"""
SELECT sf AS surface_form, uri, support FROM lex
WHERE contains(lower(sf), '{query.lower()}')
ORDER BY support DESC, uri LIMIT {max_results}"""
    )


# ---------------------------------------------------------------------------
# multimodal (media table derived from documents; md5-derived fake features —
# arithmetic mirrored verbatim from kgspark.multimodal.media_table)
def _digest_sig(h_expr: str, dim: int = 8) -> str:
    """Pipe-joined digest-byte ints from an md5 hex expression."""
    return (
        f"array_to_string(list_transform(generate_series(0, {dim - 1}), "
        f"i -> cast(cast('0x' || substr({h_expr}, (i % 16) * 2 + 1, 2) AS INTEGER) AS VARCHAR)), '|')"
    )


def q_media_features(n: int = 48, dim: int = 8) -> str:
    return f"""WITH m AS (
    SELECT doc_id AS media_id,
      CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
      text
    FROM documents WHERE doc_id < {n}),
  f AS (SELECT media_id, kind, octet_length(encode(text)) AS n_bytes, md5(text) AS h FROM m)
SELECT media_id, kind, n_bytes, {_digest_sig('h', dim)} AS feature_sig FROM f"""


def q_media_features_real(n: int = 48) -> str:
    """Mirror of codec_media_table + extract_features(decode_mode='real'):
    the Spark side ENCODES doc_id-derived arithmetic into real WAV/BMP/PPM
    containers and DECODES them back with pure-numpy codecs; this oracle
    re-derives every decoded feature from the same closed-form formulas
    without ever touching bytes — a green value-hash proves the decoder
    inverts the encoder on real container bytes."""
    wav_n = "(64 + (media_id % 64))"
    wav_lst = (
        f"list_transform(generate_series(0, {wav_n} - 1), "
        "i -> (media_id*31 + i*17) % 2003 - 1001)"
    )
    w, h = "(4 + (media_id % 4))", "(3 + (media_id % 3))"

    def chan(off: int) -> str:
        return (
            f"list_transform(generate_series(0, {w}*{h} - 1), "
            f"i -> (media_id*7 + (i // {w})*13 + (i % {w})*5 + {off}) % 256)"
        )

    img_sums = ", ".join(
        f"list_aggregate({chan(off)}, 'sum') AS s{c}"
        for c, off in (("r", 0), ("g", 11), ("b", 22))
    )
    img_ext = (
        f"greatest(list_aggregate({chan(0)}, 'max'), list_aggregate({chan(11)}, 'max'), "
        f"list_aggregate({chan(22)}, 'max')) AS mx, "
        f"least(list_aggregate({chan(0)}, 'min'), list_aggregate({chan(11)}, 'min'), "
        f"list_aggregate({chan(22)}, 'min')) AS mn"
    )
    img_sig = (
        "cast(code AS VARCHAR) || '|' || cast(w AS VARCHAR) || '|' || cast(h AS VARCHAR)"
        " || '|' || cast(sr AS VARCHAR) || '|' || cast(sg AS VARCHAR) || '|' || cast(sb AS VARCHAR)"
        " || '|' || cast(mx AS VARCHAR) || '|' || cast(mn AS VARCHAR)"
    )
    return f"""WITH ids AS (SELECT doc_id AS media_id FROM documents WHERE doc_id < {n}),
  wav AS (
    SELECT media_id, 'audio' AS kind, 44 + 2*{wav_n} AS n_bytes,
      {wav_n} AS nf, list_aggregate({wav_lst}, 'sum') AS s,
      list_aggregate(list_transform({wav_lst}, x -> abs(x)), 'sum') AS sa,
      list_aggregate({wav_lst}, 'max') AS mx, list_aggregate({wav_lst}, 'min') AS mn
    FROM ids WHERE media_id % 3 = 1),
  img AS (
    SELECT media_id,
      CASE WHEN media_id % 3 = 0 THEN 2 ELSE 3 END AS code,
      CASE WHEN media_id % 3 = 0
           THEN 54 + (({w}*3 + 3) // 4) * 4 * {h}
           ELSE 3 + length(cast({w} AS VARCHAR)) + 1 + length(cast({h} AS VARCHAR)) + 5 + 3*{w}*{h}
      END AS n_bytes,
      {w} AS w, {h} AS h, {img_sums}, {img_ext}
    FROM ids WHERE media_id % 3 <> 1)
SELECT media_id, 'audio' AS kind, n_bytes,
  '1|8000|' || cast(nf AS VARCHAR) || '|' || cast(s AS VARCHAR) || '|' || cast(sa AS VARCHAR)
  || '|' || cast(mx AS VARCHAR) || '|' || cast(mn AS VARCHAR) || '|1' AS feature_sig
FROM wav
UNION ALL
SELECT media_id, 'image' AS kind, n_bytes, {img_sig} AS feature_sig FROM img"""


def q_media_resize(n: int = 48, rw: int = 4, rh: int = 3) -> str:
    """Mirror of codec_media_table -> resize_images(rw, rh) ->
    extract_features(decode_mode='real') on the image rows: resized pixel
    (ox, oy) samples source (sx, sy) with the same integer pixel-center
    mapping sx = ((2*ox+1)*w) // (2*rw), so every resized channel value —
    and therefore the whole feature_sig — is closed-form in media_id."""
    w, h = "(4 + (media_id % 4))", "(3 + (media_id % 3))"

    def chan(off: int) -> str:
        sy = f"(((2*(i // {rw}) + 1) * {h}) // {2 * rh})"
        sx = f"(((2*(i % {rw}) + 1) * {w}) // {2 * rw})"
        return (
            f"list_transform(generate_series(0, {rw * rh} - 1), "
            f"i -> (media_id*7 + {sy}*13 + {sx}*5 + {off}) % 256)"
        )

    img_sums = ", ".join(
        f"list_aggregate({chan(off)}, 'sum') AS s{c}"
        for c, off in (("r", 0), ("g", 11), ("b", 22))
    )
    img_ext = (
        f"greatest(list_aggregate({chan(0)}, 'max'), list_aggregate({chan(11)}, 'max'), "
        f"list_aggregate({chan(22)}, 'max')) AS mx, "
        f"least(list_aggregate({chan(0)}, 'min'), list_aggregate({chan(11)}, 'min'), "
        f"list_aggregate({chan(22)}, 'min')) AS mn"
    )
    bmp_bytes = 54 + ((rw * 3 + 3) // 4) * 4 * rh
    ppm_bytes = 3 + len(str(rw)) + 1 + len(str(rh)) + 5 + 3 * rw * rh
    sig = (
        "cast(code AS VARCHAR) || '|' || cast(w AS VARCHAR) || '|' || cast(h AS VARCHAR)"
        " || '|' || cast(sr AS VARCHAR) || '|' || cast(sg AS VARCHAR) || '|' || cast(sb AS VARCHAR)"
        " || '|' || cast(mx AS VARCHAR) || '|' || cast(mn AS VARCHAR)"
    )
    return f"""WITH ids AS (SELECT doc_id AS media_id FROM documents WHERE doc_id < {n}),
  img AS (
    SELECT media_id,
      CASE WHEN media_id % 3 = 0 THEN 2 ELSE 3 END AS code,
      CASE WHEN media_id % 3 = 0 THEN {bmp_bytes} ELSE {ppm_bytes} END AS n_bytes,
      {rw} AS w, {rh} AS h, {img_sums}, {img_ext}
    FROM ids WHERE media_id % 3 <> 1)
SELECT media_id, 'image' AS kind, n_bytes, {sig} AS feature_sig FROM img"""


def q_media_resize_png(n: int = 48, rw: int = 4, rh: int = 3, code: int = 4) -> str:
    """PNG twin of q_media_resize: both image slots are PNG containers
    (code 4). n_bytes is omitted — a DEFLATE stream's length is not
    closed-form in media_id — so the hash pins every resized pixel
    through inflate -> unfilter -> resample -> deflate -> inflate.
    ``code=6`` reuses the identical mirror for the GIF container (LZW is
    lossless on the <=256-color gradient images, so the same closed-form
    pixel arithmetic applies)."""
    w, h = "(4 + (media_id % 4))", "(3 + (media_id % 3))"

    def chan(off: int) -> str:
        sy = f"(((2*(i // {rw}) + 1) * {h}) // {2 * rh})"
        sx = f"(((2*(i % {rw}) + 1) * {w}) // {2 * rw})"
        return (
            f"list_transform(generate_series(0, {rw * rh} - 1), "
            f"i -> (media_id*7 + {sy}*13 + {sx}*5 + {off}) % 256)"
        )

    img_sums = ", ".join(
        f"list_aggregate({chan(off)}, 'sum') AS s{c}"
        for c, off in (("r", 0), ("g", 11), ("b", 22))
    )
    img_ext = (
        f"greatest(list_aggregate({chan(0)}, 'max'), list_aggregate({chan(11)}, 'max'), "
        f"list_aggregate({chan(22)}, 'max')) AS mx, "
        f"least(list_aggregate({chan(0)}, 'min'), list_aggregate({chan(11)}, 'min'), "
        f"list_aggregate({chan(22)}, 'min')) AS mn"
    )
    sig = (
        f"'{code}|' || cast(w AS VARCHAR) || '|' || cast(h AS VARCHAR)"
        " || '|' || cast(sr AS VARCHAR) || '|' || cast(sg AS VARCHAR) || '|' || cast(sb AS VARCHAR)"
        " || '|' || cast(mx AS VARCHAR) || '|' || cast(mn AS VARCHAR)"
    )
    return f"""WITH ids AS (SELECT doc_id AS media_id FROM documents WHERE doc_id < {n}),
  img AS (
    SELECT media_id, {rw} AS w, {rh} AS h, {img_sums}, {img_ext}
    FROM ids WHERE media_id % 3 <> 1)
SELECT media_id, 'image' AS kind, {sig} AS feature_sig FROM img"""


def q_media_jpeg_roundtrip(n: int = 48, rw: int = 4, rh: int = 3) -> str:
    """Mirror of codec_media_table(flat=True, jpeg) -> resize -> features:
    each image is ONE color ((media_id*7 + 11c) % 256 per channel), which
    JPEG at quality 100 round-trips exactly, so every feature is
    closed-form — code 5, resized dims, sums = color * rw * rh, extremes
    = max/min over the three channel colors."""
    chans = {off: f"((media_id*7 + {off}) % 256)" for off in (0, 11, 22)}
    sig = (
        "'5|' || cast({rw} AS VARCHAR) || '|' || cast({rh} AS VARCHAR)"
        " || '|' || cast({cr} * {npix} AS VARCHAR)"
        " || '|' || cast({cg} * {npix} AS VARCHAR)"
        " || '|' || cast({cb} * {npix} AS VARCHAR)"
        " || '|' || cast(greatest({cr}, {cg}, {cb}) AS VARCHAR)"
        " || '|' || cast(least({cr}, {cg}, {cb}) AS VARCHAR)"
    ).format(
        rw=rw, rh=rh, npix=rw * rh,
        cr=chans[0], cg=chans[11], cb=chans[22],
    )
    return f"""WITH ids AS (SELECT doc_id AS media_id FROM documents WHERE doc_id < {n})
SELECT media_id, 'image' AS kind, {sig} AS feature_sig
FROM ids WHERE media_id % 3 <> 1"""


def q_video_frames_real(n: int = 48) -> str:
    """Mirror of avi_media_table -> sample_video_frames(decode_mode='real',
    every_ms=200): per video 2 + id%4 flat frames at 200 ms each, sampled
    timestamps land exactly one per frame (frame = ts/200), and each
    channel's color is (id*7 + frame*31 + 11c) % 256 — every stat
    closed-form."""
    w, h = "(4 + (media_id % 4))", "(3 + (media_id % 3))"
    chans = {off: f"((media_id*7 + (frame_ts_ms // 200)*31 + {off}) % 256)"
             for off in (0, 11, 22)}
    sig = (
        "'7|' || cast({w} AS VARCHAR) || '|' || cast({h} AS VARCHAR)"
        " || '|' || cast({cr} * {w} * {h} AS VARCHAR)"
        " || '|' || cast({cg} * {w} * {h} AS VARCHAR)"
        " || '|' || cast({cb} * {w} * {h} AS VARCHAR)"
        " || '|' || cast(greatest({cr}, {cg}, {cb}) AS VARCHAR)"
        " || '|' || cast(least({cr}, {cg}, {cb}) AS VARCHAR)"
    ).format(w=w, h=h, cr=chans[0], cg=chans[11], cb=chans[22])
    return f"""WITH m AS (SELECT doc_id AS media_id, (2 + doc_id % 4) * 200 AS duration_ms
    FROM documents WHERE doc_id < {n}),
  fr AS (SELECT media_id,
           unnest(generate_series(0, duration_ms - 1, 200)) AS frame_ts_ms
         FROM m)
SELECT media_id, frame_ts_ms, {sig} AS frame_sig FROM fr"""


def q_video_frames(n: int = 48, every_ms: int = 5000, dim: int = 8) -> str:
    return f"""WITH m AS (
    SELECT doc_id AS media_id, text, 1000 + (doc_id * 7919) % 59000 AS duration_ms
    FROM documents WHERE doc_id < {n} AND doc_id % 3 = 2),
  fr AS (SELECT media_id, md5(text) AS ph,
         unnest(generate_series(0, duration_ms - 1, {every_ms})) AS frame_ts_ms FROM m),
  f AS (SELECT media_id, frame_ts_ms,
        md5(ph || '-' || cast(frame_ts_ms AS VARCHAR)) AS h FROM fr)
SELECT media_id, frame_ts_ms, {_digest_sig('h', dim)} AS frame_sig FROM f"""


# JSON template shared verbatim with the Spark side of `spotlight_json`
SPOTLIGHT_JSON_TEMPLATE = (
    "'{\"Resources\":[{\"@URI\":\"dbr:First\",\"@surfaceForm\":\"' || split_part(text, ' ', 1) || "
    "'\",\"@offset\":\"0\",\"@types\":\"DBpedia:Thing,Wikidata:Q35120\"},"
    "{\"@URI\":\"dbr:Second\",\"@surfaceForm\":\"' || split_part(text, ' ', 2) || "
    "'\",\"@offset\":\"' || cast(length(split_part(text, ' ', 1)) + 1 AS STRING) || "
    "'\",\"@types\":\"\"}]}'"
)


def q_spotlight_json() -> str:
    pivot = (
        "list_transform(list_filter(string_split(r.\"@types\", ','), "
        "t -> starts_with(t, '{kb}:')), t -> split_part(t, ':', 2))"
    )
    dt, wt = pivot.format(kb="DBpedia"), pivot.format(kb="Wikidata")
    return f"""WITH j AS (
    SELECT doc_id, {SPOTLIGHT_JSON_TEMPLATE} AS json FROM documents
    WHERE len(string_split_regex(text, '\\s+')) >= 2),
  res AS (
    SELECT doc_id,
      unnest(cast(json_extract(json, '$.Resources') AS
        STRUCT("@URI" VARCHAR, "@surfaceForm" VARCHAR, "@offset" VARCHAR, "@types" VARCHAR)[])) AS r
    FROM j)
SELECT doc_id,
  cast(r."@offset" AS BIGINT) + 1 AS start,
  r."@surfaceForm" AS text,
  r."@URI" AS dbpedia_uri,
  CASE WHEN len({dt}) > 0 THEN '|' || array_to_string({dt}, '|') || '|' END AS dbpedia_type,
  CASE WHEN len({wt}) > 0 THEN '|' || array_to_string({wt}, '|') || '|' END AS wikidata_type
FROM res"""


# ---------------------------------------------------------------------------
# sampling / curation operators (kgspark.sampling, kgspark.textops additions)
_TOKS_CTE = (
    r"toks AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array("
    r"lower(text), '\s+'), t -> length(t) > 0)) AS word FROM documents)"
)


def q_mixture_sample() -> str:
    from kgspark.sampling import DEMO_WEIGHTS, HASH_SPACE

    # Thresholds are computed HERE in Python (int() truncates) and embedded
    # as integer literals — DuckDB's CAST(w * 2^32 AS BIGINT) rounds to
    # nearest, which is off-by-one vs Spark's int(w * HASH_SPACE) for
    # weights like 0.8 and 0.05, so a boundary-hash doc would diverge.
    rows = ", ".join(
        f"('{s}', {int(w * HASH_SPACE)})" for s, w in sorted(DEMO_WEIGHTS.items())
    )
    return f"""WITH th(source, thr) AS (VALUES {rows}),
  h AS (SELECT doc_id, source,
          CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS hv
        FROM documents)
SELECT h.doc_id, h.source FROM h JOIN th USING (source) WHERE hv < thr"""


def q_stratified_sample(k: int = 7) -> str:
    return f"""WITH h AS (SELECT doc_id, source,
    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS hv
  FROM documents),
  r AS (SELECT doc_id, source,
          row_number() OVER (PARTITION BY source ORDER BY hv, doc_id) AS rank
        FROM h)
SELECT doc_id, source, CAST(rank AS INT) AS rank FROM r WHERE rank <= {k}"""


def q_unigram_logprob() -> str:
    return f"""WITH {_TOKS_CTE},
  vocab AS (SELECT word, count(*) AS n_word FROM toks GROUP BY 1),
  total AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM toks)
SELECT doc_id, count(*) AS n_tokens,
  round(avg(round(ln(n_word / (SELECT n FROM total)), 6)), 6) AS avg_logprob
FROM toks JOIN vocab USING (word) GROUP BY doc_id"""


def q_tfidf_topk(k: int = 5) -> str:
    return f"""WITH {_TOKS_CTE},
  tf AS (SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY 1, 2),
  dfq AS (SELECT word, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
  n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM documents),
  sc AS (SELECT doc_id, word, tf,
           round(tf * round(ln((SELECT n FROM n) / df), 6), 6) AS tfidf
         FROM tf JOIN dfq USING (word)),
  r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
          ORDER BY tfidf DESC, word) AS rank FROM sc)
SELECT doc_id, word, tf, tfidf, CAST(rank AS INT) AS rank FROM r WHERE rank <= {k}"""


def q_dup_ngram_spans(n: int = 8, min_docs: int = 2) -> str:
    return rf"""WITH tk AS (SELECT doc_id,
    list_filter(regexp_split_to_array(lower(text), '\s+'),
                t -> length(t) > 0) AS tk FROM documents),
  ng AS (SELECT doc_id,
      unnest(list_transform(generate_series(1, greatest(len(tk) - {n - 1}, 0)),
        i -> {{'i': i, 'h': CAST('0x' || substr(md5(array_to_string(
               list_slice(tk, i, i + {n - 1}), ' ')), 1, 15) AS BIGINT)}})) AS s
    FROM tk),
  g AS (SELECT doc_id, s.i AS start_idx, s.h AS h FROM ng),
  duph AS (SELECT h FROM g GROUP BY h HAVING count(DISTINCT doc_id) >= {min_docs}),
  hits AS (SELECT doc_id, start_idx FROM g JOIN duph USING (h)),
  isl AS (SELECT doc_id, start_idx,
      sum(CASE WHEN prev IS NULL OR start_idx > prev + {n} THEN 1 ELSE 0 END)
        OVER (PARTITION BY doc_id ORDER BY start_idx ROWS UNBOUNDED PRECEDING) AS island
    FROM (SELECT doc_id, start_idx,
            lag(start_idx) OVER (PARTITION BY doc_id ORDER BY start_idx) AS prev
          FROM hits))
SELECT doc_id, min(start_idx) AS span_start, max(start_idx) + {n - 1} AS span_end,
  count(*) AS n_grams
FROM isl GROUP BY doc_id, island"""


def q_uniform_sample(n: int = 100) -> str:
    return f"""WITH h AS (SELECT doc_id,
    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS hv
  FROM documents)
SELECT doc_id, CAST(row_number() OVER (ORDER BY hv, doc_id) AS INT) AS rank
FROM h ORDER BY hv, doc_id LIMIT {n}"""


def q_assign_splits() -> str:
    from kgspark.sampling import HASH_SPACE

    fracs = [("train", 0.98), ("val", 0.01), ("test", 0.01)]
    cum, whens = 0.0, []
    for name, frac in fracs[:-1]:
        cum += frac
        whens.append(f"WHEN hv < {int(cum * HASH_SPACE)} THEN '{name}'")
    chain = " ".join(whens)
    return f"""WITH h AS (SELECT doc_id, source,
    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS hv
  FROM documents)
SELECT doc_id, source, CASE {chain} ELSE '{fracs[-1][0]}' END AS split FROM h"""


def q_pack_chunks(budget: int = 2048, n_shards: int = 8) -> str:
    """pack_sequences' materialized twin: boundary-straddling documents
    split into per-pack [tok_from, tok_to) chunks."""
    return rf"""WITH t AS (SELECT doc_id, doc_id % {n_shards} AS shard,
    len(string_split_regex(text, '\s+')) AS n_tokens FROM documents),
  c AS (SELECT *,
    sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) - n_tokens AS start
  FROM t),
  e AS (SELECT doc_id, shard, n_tokens, start,
          unnest(generate_series(CAST(start // {budget} AS BIGINT),
                                 CAST((start + n_tokens - 1) // {budget} AS BIGINT))) AS p
        FROM c WHERE n_tokens > 0)
SELECT doc_id, shard, CAST(p AS BIGINT) AS pack_id,
  CAST(greatest(p * {budget} - start, 0) AS BIGINT) AS tok_from,
  CAST(least((p + 1) * {budget} - start, n_tokens) AS BIGINT) AS tok_to
FROM e"""


def q_quantize_embeddings() -> str:
    """Mirror of similarity.quantize_embeddings: floor(x*scale + 0.5) on
    IEEE doubles is bit-deterministic across engines (round() is not)."""
    return """WITH m AS (SELECT vec_id, embedding,
    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
  FROM embeddings),
  s AS (SELECT vec_id, embedding,
          CASE WHEN maxabs > 0 THEN 127.0 / maxabs ELSE 0.0 END AS scale
        FROM m)
SELECT vec_id, round(scale, 6) AS scale,
  array_to_string(list_transform(embedding,
    x -> CAST(CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS INT) AS VARCHAR)),
    '|') AS qsig
FROM s"""
