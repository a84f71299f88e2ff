"""Explicit schemas per layer.

The reference infers schemas from JSON at every stage
(``/root/reference/src/utils/utils.py:34``); production paths here pin an
explicit ``StructType`` so scans never pay inference and plans are stable
(SURVEY.md §1.2). Two schema families:

1. Driver-provided benchmark tables (TESTDATA.md / FIXTURES.md §A).
2. Reference-shaped arXiv layers (FIXTURES.md §B) — bronze raw JSONL,
   silver cleaned, enrichment lookups, gold star schema.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

# The driver parquet files store timestamps with isAdjustedToUTC=false,
# which Spark 4 reads as TIMESTAMP_NTZ (wall-clock, no zone) — matching
# DuckDB's naive TIMESTAMP semantics exactly. events.ts is micros NTZ in
# the current driver drop; earlier drops stored it as TIMESTAMP(NANOS),
# which Spark can't read natively — readers keep a fallback that rebuilds
# nanos columns via timestamp_micros() and casts back to NTZ (the session
# is pinned to UTC, so the wall-clock values are identical either way).

# ---------------------------------------------------------------------------
# 1. Driver benchmark tables: the read schema of sources.readers.
#    load_table (checked against each file's footer column names, and
#    pinned against Spark's own inference by tests/test_sources.py).
# ---------------------------------------------------------------------------

REGION = StructType(
    [
        StructField("r_regionkey", IntegerType()),
        StructField("r_name", StringType()),
    ]
)

NATION = StructType(
    [
        StructField("n_nationkey", IntegerType()),
        StructField("n_name", StringType()),
        StructField("n_regionkey", IntegerType()),
    ]
)

CUSTOMER = StructType(
    [
        StructField("c_custkey", LongType()),
        StructField("c_name", StringType()),
        StructField("c_nationkey", IntegerType()),
        StructField("c_acctbal", DoubleType()),
        StructField("c_mktsegment", StringType()),
    ]
)

SUPPLIER = StructType(
    [
        StructField("s_suppkey", LongType()),
        StructField("s_name", StringType()),
        StructField("s_nationkey", IntegerType()),
        StructField("s_acctbal", DoubleType()),
    ]
)

PART = StructType(
    [
        StructField("p_partkey", LongType()),
        StructField("p_name", StringType()),
        StructField("p_brand", StringType()),
        StructField("p_type", StringType()),
        StructField("p_size", IntegerType()),
        StructField("p_retailprice", DoubleType()),
    ]
)

ORDERS = StructType(
    [
        StructField("o_orderkey", LongType()),
        StructField("o_custkey", LongType()),
        StructField("o_orderstatus", StringType()),
        StructField("o_totalprice", DoubleType()),
        StructField("o_orderdate", TimestampNTZType()),
        StructField("o_orderpriority", StringType()),
    ]
)

LINEITEM = StructType(
    [
        StructField("l_orderkey", LongType()),
        StructField("l_partkey", LongType()),
        StructField("l_suppkey", LongType()),
        StructField("l_linenumber", IntegerType()),
        StructField("l_quantity", DoubleType()),
        StructField("l_extendedprice", DoubleType()),
        StructField("l_discount", DoubleType()),
        StructField("l_tax", DoubleType()),
        StructField("l_returnflag", StringType()),
        StructField("l_linestatus", StringType()),
        StructField("l_shipdate", TimestampNTZType()),
    ]
)

EVENTS = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampNTZType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

DOCUMENTS = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)

EMBEDDINGS = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ]
)

DRIVER_TABLES: dict[str, StructType] = {
    "region": REGION,
    "nation": NATION,
    "customer": CUSTOMER,
    "supplier": SUPPLIER,
    "part": PART,
    "orders": ORDERS,
    "lineitem": LINEITEM,
    "events": EVENTS,
    "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}

# ---------------------------------------------------------------------------
# 2. arXiv reference-shaped layers (FIXTURES.md §B; reference citations in
#    each comment point at /root/reference).
# ---------------------------------------------------------------------------

# Bronze: raw Kaggle arXiv JSONL, one publication per line
# (reference scan: src/utils/utils.py:17-34).
ARXIV_RAW = StructType(
    [
        StructField("id", StringType()),
        StructField("submitter", StringType()),
        StructField("authors", StringType()),  # comma-separated names
        StructField("title", StringType()),
        StructField("comments", StringType()),
        StructField("journal-ref", StringType()),
        StructField("doi", StringType()),
        StructField("report-no", StringType()),
        StructField("categories", StringType()),  # space-separated tokens
        StructField("license", StringType()),
        StructField("abstract", StringType()),
        StructField(
            "versions",
            ArrayType(
                StructType(
                    [
                        StructField("created", StringType()),  # GMT string
                        StructField("version", StringType()),
                    ]
                )
            ),
        ),
        StructField("update_date", StringType()),
        # [last, first, suffix] triples (src/utils/databases.py:125-127)
        StructField("authors_parsed", ArrayType(ArrayType(StringType()))),
    ]
)

AUTHOR_STRUCT = StructType([StructField("name", StringType())])

# Silver-1: output of the cleaning suite (SURVEY §2.2 P1-P9, P11).
ARXIV_SILVER = StructType(
    [
        StructField("id", StringType()),  # deterministic surrogate (P2)
        StructField("arxiv", StringType()),  # natural key, renamed (P1)
        StructField("submitter", StringType()),
        StructField("authors", ArrayType(AUTHOR_STRUCT)),  # P4
        StructField("title", StringType()),
        StructField("comments", StringType()),  # P8-normalized
        StructField("journal_ref", StringType()),
        StructField("doi", StringType()),
        StructField("report_no", StringType()),
        StructField("categories", StringType()),  # P5 dedup+sort
        StructField("general_categories", StringType()),  # P6 remap
        StructField("license", StringType()),
        StructField("abstract", StringType()),
        StructField(
            "versions",
            ArrayType(
                StructType(
                    [
                        StructField("created", StringType()),
                        StructField("version", StringType()),
                    ]
                )
            ),
        ),
        StructField("update_date", StringType()),  # ISO-8601 or original (P7)
        StructField(
            "authors_parsed",
            ArrayType(
                StructType(
                    [
                        StructField("first_name", StringType()),
                        StructField("last_name", StringType()),
                    ]
                )
            ),
        ),
    ]
)

# CrossRef enrichment lookup (J5; src/utils/api.py:21-48,66-73).
CROSSREF_WORKS = StructType(
    [
        StructField("doi", StringType()),
        StructField("type", StringType()),
        StructField("score", IntegerType()),
        StructField("references_count", IntegerType()),
        StructField("publisher", StringType()),
        StructField("issue", StringType()),
        StructField(
            "references",
            ArrayType(
                StructType(
                    [
                        StructField("DOI", StringType()),
                        StructField("key", StringType()),
                        StructField("doi_asserted_by", StringType()),
                    ]
                )
            ),
        ),
        StructField("license_start", TimestampType()),
        StructField("license_url", StringType()),
        StructField("license_content_version", StringType()),
        StructField("license_delay", IntegerType()),
        StructField("short_container_title", StringType()),
        StructField("container_title", StringType()),
        StructField("is_referenced_by_count", IntegerType()),
        StructField(
            "cr_authors",
            ArrayType(
                StructType(
                    [
                        StructField("given", StringType()),
                        StructField("family", StringType()),
                        StructField("sequence", StringType()),
                    ]
                )
            ),
        ),
        StructField("language", StringType()),
        StructField("deposited", TimestampType()),
        StructField("ISSN", ArrayType(StringType())),
        StructField(
            "ISSN_type",
            ArrayType(
                StructType(
                    [
                        StructField("value", StringType()),
                        StructField("type", StringType()),
                    ]
                )
            ),
        ),
        StructField("article_number", StringType()),
        StructField("subject", ArrayType(StringType())),
        StructField("journal_name", StringType()),
        StructField("journal_pages", StringType()),
        StructField("journal_volume", StringType()),
    ]
)

# Semantic Scholar batch lookup (J6; src/utils/api.py:96-101).
S2_PAPERS = StructType(
    [
        StructField("paperId", StringType()),
        StructField("arxiv_id", StringType()),
        StructField("s2_doi", StringType()),
        StructField("url", StringType()),
        StructField("s2_title", StringType()),
        StructField("venue", StringType()),
        StructField("year", IntegerType()),
        StructField("s2_abstract", StringType()),
        StructField("referenceCount", IntegerType()),
        StructField("citationCount", IntegerType()),
        StructField("influentialCitationCount", IntegerType()),
        StructField("isOpenAccess", BooleanType()),
        StructField("fieldsOfStudy", ArrayType(StringType())),
        StructField("publicationDate", StringType()),
        StructField(
            "journal",
            StructType(
                [
                    StructField("name", StringType()),
                    StructField("volume", StringType()),
                    StructField("pages", StringType()),
                ]
            ),
        ),
        StructField("publicationTypes", ArrayType(StringType())),
    ]
)

# Per-paper fan-out tables (J7; src/utils/api.py:103-118,252-262).
S2_AUTHORS = StructType(
    [
        StructField("paperId", StringType()),
        StructField("authorId", StringType()),
        StructField("name", StringType()),
        StructField("affiliations", ArrayType(StringType())),
        StructField("paperCount", IntegerType()),
        StructField("citationCount", IntegerType()),
        StructField("hIndex", IntegerType()),
    ]
)

S2_CITATIONS = StructType(
    [
        StructField("paperId", StringType()),
        StructField("citingPaperId", StringType()),
        StructField("citationCount", IntegerType()),
        StructField("influentialCitationCount", IntegerType()),
        StructField("isOpenAccess", BooleanType()),
        StructField("publicationDate", StringType()),
    ]
)

S2_REFERENCES = StructType(
    [
        StructField("paperId", StringType()),
        StructField("citedPaperId", StringType()),
        StructField("citationCount", IntegerType()),
        StructField("influentialCitationCount", IntegerType()),
        StructField("isOpenAccess", BooleanType()),
        StructField("publicationDate", StringType()),
    ]
)
