"""Golden scenarios from tests/testthat/test-entity_types_map.R."""

import pytest

from kgspark.entity_types import entity_types_map

# the reference's character-vector goldens, as single-KB (DBpedia) mappings
MAPPING_CHR = [("PERSON", "DBpedia:Person"), ("ORGANIZATION", "DBpedia:Organisation"),
               ("LOCATION", "DBpedia:Place")]


def test_character_method_berlin_golden(spark):
    """'Berlin is the capital of Germany.' => LOCATION, MISC, LOCATION."""
    df = spark.createDataFrame(
        [("|Place|Location|City|",), ("|MusicalWork|",), ("|Place|Location|Country|",)],
        ["DBpedia_type"],
    )
    out = entity_types_map(df, MAPPING_CHR)
    assert [r["category"] for r in out.collect()] == ["LOCATION", "MISC", "LOCATION"]


def test_na_input_maps_to_other(spark):
    df = spark.createDataFrame([(None,)], "DBpedia_type string")
    out = entity_types_map(df, MAPPING_CHR)
    assert out.collect()[0]["category"] == "MISC"


def test_multiple_matches_sorted_and_joined(spark):
    # two categories matched within one row: sorted alphabetically, pipe-joined
    mapping = [("LEGISLATURE", "DBpedia:Legislature"), ("ORGANIZATION", "DBpedia:Organisation")]
    df = spark.createDataFrame([("|Organisation|Legislature|",)], ["DBpedia_type"])
    out = entity_types_map(df, mapping)
    assert out.collect()[0]["category"] == "LEGISLATURE|ORGANIZATION"


def test_datatable_method_single_kb(spark):
    df = spark.createDataFrame(
        [("|Place|", "|Q515|"), ("|Person|", None)], ["DBpedia_type", "Wikidata_type"]
    )
    out = entity_types_map(df, [("LOCATION", "DBpedia:Place"), ("PERSON", "DBpedia:Person")])
    assert [r["category"] for r in out.collect()] == ["LOCATION", "PERSON"]


def test_datatable_method_multi_kb_merge(spark):
    """multi-KB merge: DBpedia gives MISC, Wikidata gives PERSON => MISC|PERSON."""
    df = spark.createDataFrame([("|Unmapped|", "|Q5|")], ["DBpedia_type", "Wikidata_type"])
    out = entity_types_map(
        df, [("LOCATION", "DBpedia:Place"), ("PERSON", "Wikidata:Q5")]
    )
    assert out.collect()[0]["category"] == "MISC|PERSON"


def test_mapping_requires_kb_prefix(spark):
    df = spark.createDataFrame([("|Place|",)], ["DBpedia_type"])
    with pytest.raises(ValueError):
        entity_types_map(df, [("LOCATION", "Place")])


def test_type_mapped_to_two_categories_aborts(spark):
    df = spark.createDataFrame([("|Place|",)], ["DBpedia_type"])
    with pytest.raises(ValueError):
        entity_types_map(
            df, [("LOCATION", "DBpedia:Place"), ("GPE", "DBpedia:Place")]
        )


def test_missing_kb_column_aborts(spark):
    df = spark.createDataFrame([("|Place|",)], ["DBpedia_type"])
    with pytest.raises(ValueError):
        entity_types_map(df, [("ORG", "Wikidata:Q43229")])
