"""StructType schemas for every stage boundary of the reference pipeline
(SURVEY §1): raw arXiv record, enriched record, staging tables, star
schema, property graph. Declared explicitly — no schema inference at any
boundary (the reference's dynamic pandas frontier is the anti-pattern,
SURVEY §1.2).

Sentinel semantics are load-bearing and preserved exactly:
'Unknown' for missing strings (ref pop_DWH.py:62-63), 0 for unknown
years (ref pop_DWH.py:65; DWH_tables.sql:88).
"""

from __future__ import annotations

from pyspark.sql import types as T

UNKNOWN = "Unknown"
YEAR_SENTINEL = 0

# --- raw arXiv record (ref api_to_neo4j.py:104-105; FIXTURES.md §1) -------

VERSION = T.StructType(
    [
        T.StructField("version", T.StringType()),
        T.StructField("created", T.StringType()),
    ]
)

ARXIV_RAW = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("submitter", T.StringType()),
        T.StructField("authors", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("comments", T.StringType()),
        T.StructField("journal-ref", T.StringType()),
        T.StructField("doi", T.StringType()),
        T.StructField("report-no", T.StringType()),
        T.StructField("categories", T.StringType()),
        T.StructField("license", T.StringType()),
        T.StructField("abstract", T.StringType()),
        T.StructField("versions", T.ArrayType(VERSION)),
        T.StructField("update_date", T.StringType()),
        T.StructField(
            "authors_parsed", T.ArrayType(T.ArrayType(T.StringType()))
        ),
    ]
)

# --- author structs (ref transforms.py:23-30; enrich.py:215) --------------

AUTHOR_EXTRACTED = T.StructType(
    [
        T.StructField("family", T.StringType()),
        T.StructField("given", T.StringType()),
        T.StructField("affiliation", T.ArrayType(T.StringType())),
    ]
)

AUTHOR_MERGED = T.StructType(
    [
        T.StructField("family", T.StringType()),
        T.StructField("given", T.StringType()),
        T.StructField("gender", T.StringType()),
        T.StructField("full_name", T.StringType()),
        T.StructField("affiliation", T.ArrayType(T.StringType())),
    ]
)

REFERENCE_ENTRY = T.StructType(
    [
        T.StructField("title", T.StringType()),
        T.StructField("published-year", T.IntegerType()),
        T.StructField("doi", T.StringType()),
    ]
)

# --- enriched record (ref enrich.py:13; openalex.py:109-121) --------------

ENRICHED_EXTRA = [
    T.StructField("published-year", T.IntegerType()),
    T.StructField("published-month", T.IntegerType()),
    T.StructField("type", T.StringType()),
    T.StructField("publisher", T.StringType()),
    T.StructField("container-title", T.StringType()),
    T.StructField("subject", T.StringType()),
    T.StructField("is-referenced-by-count", T.IntegerType()),
    T.StructField("reference", T.ArrayType(REFERENCE_ENTRY)),
    T.StructField("authors_merged", T.ArrayType(AUTHOR_MERGED)),
]

# --- enriched record at the staging boundary (ref api_to_neo4j.py:121-150):
# the cleaned arXiv fields that survive to staging plus the enrichment
# columns. This is the stream element type for the incremental pipeline.

ENRICHED_RECORD = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("title", T.StringType()),
        T.StructField("doi", T.StringType()),
        T.StructField("latest_version", T.StringType()),
    ]
    + ENRICHED_EXTRA
)

# --- staging (ref staging_tables.sql:5-47; api_to_neo4j.py:149-150) -------

STAGING_MAIN = T.StructType(
    [
        T.StructField("published-year", T.IntegerType()),
        T.StructField("subject", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField("container-title", T.StringType()),
        T.StructField("publisher", T.StringType()),
        T.StructField("id", T.StringType(), False),
        T.StructField("doi", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("versions", T.StringType()),
        T.StructField("is-referenced-by-count", T.IntegerType()),
    ]
)

STAGING_AUTHORS = T.StructType(
    [
        T.StructField("given", T.StringType()),
        T.StructField("family", T.StringType()),
        T.StructField("affiliation", T.StringType()),
        T.StructField("gender", T.StringType()),
        T.StructField("full_name", T.StringType()),
        T.StructField("id", T.StringType(), False),
    ]
)

# --- star schema (ref DWH_tables.sql:11-84) -------------------------------

DIM_YEAR = T.StructType(
    [
        T.StructField("year_key", T.IntegerType(), False),
        T.StructField("publication_year", T.IntegerType(), False),
    ]
)

DIM_DOMAIN = T.StructType(
    [
        T.StructField("domain_key", T.IntegerType(), False),
        T.StructField("scientific_domain", T.StringType(), False),
    ]
)

DIM_TYPE = T.StructType(
    [
        T.StructField("type_key", T.IntegerType(), False),
        T.StructField("publication_type", T.StringType(), False),
    ]
)

DIM_VENUE = T.StructType(
    [
        T.StructField("venue_key", T.IntegerType(), False),
        T.StructField("pub_venue", T.StringType(), False),
        T.StructField("publisher", T.StringType(), False),
    ]
)

# g_index is NULL for an author with no positive citation count, not
# the DDL default 0: both star loader paths leave it NULL
# (operators/star.py refresh_metrics).
DIM_AUTHOR = T.StructType(
    [
        T.StructField("author_key", T.IntegerType(), False),
        T.StructField("full_name", T.StringType(), False),
        T.StructField("gender", T.StringType()),
        T.StructField("h_index", T.IntegerType()),
        T.StructField("g_index", T.IntegerType()),
    ]
)

DIM_AFFILIATION = T.StructType(
    [
        T.StructField("affiliation_key", T.IntegerType(), False),
        T.StructField("affiliation_name", T.StringType(), False),
    ]
)

PAPER_FACT = T.StructType(
    [
        T.StructField("year_key", T.IntegerType()),
        T.StructField("domain_key", T.IntegerType()),
        T.StructField("type_key", T.IntegerType()),
        T.StructField("venue_key", T.IntegerType()),
        T.StructField("author_group_key", T.IntegerType()),
        T.StructField("affiliation_group_key", T.IntegerType()),
        T.StructField("arxiv_ID", T.StringType(), False),
        T.StructField("doi", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("latest_version_nr", T.IntegerType()),
        T.StructField("citation_count", T.IntegerType()),
    ]
)

BRIDGE_AUTHOR_GROUP = T.StructType(
    [
        T.StructField("author_group_key", T.IntegerType(), False),
        T.StructField("author_key", T.IntegerType(), False),
    ]
)

BRIDGE_AFFILIATION_GROUP = T.StructType(
    [
        T.StructField("affiliation_group_key", T.IntegerType(), False),
        T.StructField("affiliation_key", T.IntegerType(), False),
    ]
)

# --- property graph (ref api_to_neo4j.py:23-83; GraphFrames layout) -------

VERTEX_PIECE = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("title", T.StringType()),
        T.StructField("year", T.IntegerType()),
        T.StructField("subject", T.StringType()),
    ]
)

EDGE = T.StructType(
    [
        T.StructField("src", T.StringType(), False),
        T.StructField("dst", T.StringType(), False),
        T.StructField("rel", T.StringType(), False),
    ]
)
