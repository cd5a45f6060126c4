"""Stage 7a — coarse entity-type mapping (T1/T2).

Native reimplementation of ``entity_types_map``
(``/root/reference/R/entity_types.R:110-227``) as pure column expressions —
the mapping is tiny, so it compiles straight into whole-stage codegen
(array_contains chains), no join, no UDF.

Semantics preserved:
- input is the pipe-wrapped per-KB type pivot (e.g. ``"|Place|Location|"``);
- every mapping value found among the row's types contributes its category;
- matched categories are deduped, sorted alphabetically, pipe-joined
  (R/entity_types.R:138-141);
- no match (or NULL input) => ``other`` (default "MISC");
- multi-KB mapping entries are written ``"KB:Type"`` and routed to the
  ``{KB}_type`` column (R/entity_types.R:4-29); per-KB results are re-split,
  deduped, sorted and re-joined (R/entity_types.R:195-208);
- a type mapped to two categories within one KB aborts
  (R/entity_types.R:169-179).
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import Column, DataFrame, functions as F


def _cat_flags(col: Column, pairs: list[tuple[str, str]]) -> dict[str, Column]:
    """category -> 'this row carries one of its types' boolean, per KB col.

    The dedupe + sort of matched categories is done STATICALLY (category
    names are compile-time constants), so the whole operator stays in
    whole-stage codegen: the previous formulation ran filter/array_sort/
    array_distinct higher-order functions per row — CodegenFallback,
    interpreted, and the hottest part of the entity-typing stage.
    """
    types_arr = F.split(F.regexp_replace(col, r"^\|+|\|+$", ""), r"\|")
    by_cat: dict[str, list[str]] = {}
    for cat, typ in pairs:
        by_cat.setdefault(cat, []).append(typ)
    flags = {}
    for cat, typs in by_cat.items():
        m = F.array_contains(types_arr, F.lit(typs[0]))
        for typ in typs[1:]:
            m = m | F.array_contains(types_arr, F.lit(typ))
        flags[cat] = col.isNotNull() & F.coalesce(m, F.lit(False))
    return flags


def _category_expr(
    col: Column, pairs: list[tuple[str, str]], other: str
) -> Column:
    """T1 over one pipe-wrapped types column. pairs = [(category, type)]."""
    flags = _cat_flags(col, pairs)
    any_match = None
    for m in flags.values():
        any_match = m if any_match is None else (any_match | m)
    # concat_ws skips NULL entries -> the sorted pipe-join of exactly the
    # matched categories, dedup/sort resolved at plan-build time
    joined = F.concat_ws(
        "|", *[F.when(flags[c], F.lit(c)) for c in sorted(flags)]
    )
    return F.when(
        col.isNull() | ~F.coalesce(any_match, F.lit(False)), F.lit(other)
    ).otherwise(joined)


def entity_types_map(
    df: DataFrame,
    mapping: list[tuple[str, str]],
    other: str = "MISC",
    out_col: str = "category",
) -> DataFrame:
    """data.table method (R/entity_types.R:154-227).

    ``mapping`` entries are ``(category, "KB:Type")``; each KB routes to the
    ``{KB}_type`` column, per-KB categories are merged across KBs.
    """
    per_kb: dict[str, list[tuple[str, str]]] = defaultdict(list)
    for cat, spec in mapping:
        if ":" not in spec:
            raise ValueError(
                "mapping_vector must include the type source for data.table "
                f"inputs (got {spec!r}; mirrors R/entity_types.R:10-15)"
            )
        kb, typ = spec.split(":", 1)
        per_kb[kb].append((cat, typ))

    for kb, pairs in per_kb.items():
        if f"{kb}_type" not in df.columns:
            raise ValueError(
                f"no column {kb}_type for mapping source {kb!r} "
                "(mirrors R/entity_types.R:10-15)"
            )
        seen: dict[str, str] = {}
        for cat, typ in pairs:
            if typ in seen and seen[typ] != cat:
                raise ValueError(
                    f"type {typ!r} mapped onto multiple categories "
                    "(mirrors R/entity_types.R:169-179)"
                )
            seen[typ] = cat

    if len(per_kb) == 1:
        ((kb, pairs),) = per_kb.items()
        category = _category_expr(F.col(f"{kb}_type"), pairs, other)
    else:
        # cross-KB merge (R/entity_types.R:195-208): the per-KB category
        # strings are re-split, uniqued, sorted, re-joined — done here on
        # compile-time category flags (a KB with no match contributes
        # ``other``), so the merge is a codegen concat_ws instead of the
        # per-row flatten/distinct/sort HOF chain.
        merged_flags: dict[str, Column] = {}
        other_flag = None
        for kb, pairs in per_kb.items():
            col = F.col(f"{kb}_type")
            flags = _cat_flags(col, pairs)
            any_match = None
            for m in flags.values():
                any_match = m if any_match is None else (any_match | m)
            kb_other = col.isNull() | ~F.coalesce(any_match, F.lit(False))
            other_flag = kb_other if other_flag is None else (other_flag | kb_other)
            for cat, m in flags.items():
                merged_flags[cat] = (
                    m if cat not in merged_flags else (merged_flags[cat] | m)
                )
        merged_flags[other] = (
            other_flag
            if other not in merged_flags
            else (merged_flags[other] | other_flag)
        )
        category = F.concat_ws(
            "|", *[F.when(merged_flags[c], F.lit(c)) for c in sorted(merged_flags)]
        )
    return df.withColumn(out_col, category)
