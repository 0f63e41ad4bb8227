"""Fixed StructTypes for every engine table.

The reference's schema is implicit/dynamic JSON (SURVEY.md §1.3);
here every table has an explicit columnar schema. Conditionally
present JSON keys (``d`` only when deleted, ``p`` absent for deleted
nodes — pbf_encoding.hpp:47-55, 156-160) become nullable fields.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Engine input (BASELINE.json input_hint): Common-Crawl-style pages.
PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# versions ≙ the RocksDB `nodes`/`ways`/`relations` column families
# (db.hpp:126-136); one row per object version, value fields per
# pbf_encoding.hpp:32-93. Timestamps are epoch seconds as long
# (pbf_encoding.hpp:36 — integer comparisons downstream).
VERSIONS = T.StructType(
    [
        T.StructField("element_type", T.StringType(), False),
        T.StructField("id", T.LongType(), False),
        T.StructField("version", T.IntegerType(), False),
        T.StructField("ts", T.LongType(), False),
        T.StructField("changeset", T.LongType(), True),
        T.StructField("uid", T.IntegerType(), True),
        T.StructField("user", T.StringType(), True),
        T.StructField("visible", T.BooleanType(), True),
        T.StructField("deleted", T.BooleanType(), True),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("lonlat", T.ArrayType(T.DoubleType()), True),
        T.StructField("node_refs", T.ArrayType(T.LongType()), True),
    ]
)

# features ≙ the osmium-export geojsonseq stream (run.sh:20,
# example/osmiumconfig): current version of each object + geometry.
FEATURES = T.StructType(
    [
        T.StructField("element_type", T.StringType(), False),
        T.StructField("id", T.LongType(), False),
        T.StructField("version", T.IntegerType(), False),
        T.StructField("changeset", T.LongType(), True),
        T.StructField("ts", T.LongType(), True),
        T.StructField("uid", T.IntegerType(), True),
        T.StructField("user", T.StringType(), True),
        T.StructField("geometry", T.StringType(), True),  # GeoJSON
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

# One @history record (HISTORICAL_SCHEMA.md:82-87 short keys:
# i=version c=changeset t=timestamp u=uid h=user d=deleted
# p=[lon,lat] n=node refs, aA/aM/aD = tag diff).
HISTORY_RECORD = T.StructType(
    [
        T.StructField("i", T.IntegerType(), False),
        T.StructField("c", T.LongType(), True),
        T.StructField("t", T.LongType(), True),
        T.StructField("u", T.IntegerType(), True),
        T.StructField("h", T.StringType(), True),
        T.StructField("d", T.BooleanType(), True),
        T.StructField("p", T.ArrayType(T.DoubleType()), True),
        T.StructField("n", T.ArrayType(T.LongType()), True),
        T.StructField("aA", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField(
            "aM",
            T.MapType(T.StringType(), T.ArrayType(T.StringType())),
            True,
        ),
        T.StructField("aD", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

# Reconstruction kernel output: one row per (major, minor) version of
# each feature with validity interval (HISTORICAL_SCHEMA.md "Schema 2",
# way-history-builder.js:397-398).
RECONSTRUCTED = T.StructType(
    [
        T.StructField("element_type", T.StringType(), False),
        T.StructField("id", T.LongType(), False),
        T.StructField("version", T.IntegerType(), False),
        T.StructField("minor_version", T.IntegerType(), False),
        T.StructField("valid_since", T.LongType(), True),
        T.StructField("valid_until", T.LongType(), True),
        T.StructField("changeset", T.LongType(), True),
        T.StructField("uid", T.IntegerType(), True),
        T.StructField("user", T.StringType(), True),
        T.StructField("geometry", T.StringType(), True),  # GeoJSON
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), True),
    ]
)
