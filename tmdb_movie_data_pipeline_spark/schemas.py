"""Explicit schemas — the engine never relies on inference for its own types.

The reference's only table type is an 11-column pandas frame whose dtypes are
whatever ``pd.DataFrame(rows)`` infers (reference src/movie.py:26-30, 205).
Here every relation has a declared StructType; ``conform`` reproduces the
reference's ``reindex(columns=COLS)`` semantics (reorder, null-fill missing,
drop extra — src/movie.py:205) as a Catalyst projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "MOVIE_COLS",
    "MOVIE_SCHEMA",
    "RAW_MOVIE_SCHEMA",
    "GENRE_SCHEMA",
    "TESTDATA_SCHEMAS",
    "TESTDATA_TABLES",
    "conform",
    "empty_movies",
]

# ---------------------------------------------------------------------------
# Movie pipeline schemas (reference parity)
# ---------------------------------------------------------------------------

#: Column order is part of the contract (reference src/movie.py:26-30).
MOVIE_COLS = [
    "tmdb_id",
    "title",
    "original_title",
    "release_date",
    "genres",
    "vote_average",
    "vote_count",
    "popularity",
    "original_language",
    "overview",
    "poster_url",
]

#: Normalized movie table. ``genres`` is kept as a native array (the
#: canonical form); the reference's pipe-joined string (src/movie.py:197)
#: is a derived view — see operators.normalize.genres_pipe_view.
MOVIE_SCHEMA = T.StructType(
    [
        T.StructField("tmdb_id", T.LongType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("original_title", T.StringType(), True),
        T.StructField("release_date", T.DateType(), True),
        T.StructField("genres", T.ArrayType(T.StringType()), True),
        T.StructField("vote_average", T.DoubleType(), True),
        T.StructField("vote_count", T.LongType(), True),
        T.StructField("popularity", T.DoubleType(), True),
        T.StructField("original_language", T.StringType(), True),
        T.StructField("overview", T.StringType(), True),
        T.StructField("poster_url", T.StringType(), True),
    ]
)

#: Raw record batch as returned by the paged source, before normalize
#: (reference src/movie.py:173,179 — a List[Dict] of API JSON objects).
RAW_MOVIE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("original_title", T.StringType(), True),
        T.StructField("release_date", T.StringType(), True),
        T.StructField("genre_ids", T.ArrayType(T.LongType()), True),
        T.StructField("vote_average", T.DoubleType(), True),
        T.StructField("vote_count", T.LongType(), True),
        T.StructField("popularity", T.DoubleType(), True),
        T.StructField("original_language", T.StringType(), True),
        T.StructField("overview", T.StringType(), True),
        T.StructField("poster_path", T.StringType(), True),
        T.StructField("adult", T.BooleanType(), True),
    ]
)

#: Genre dimension (reference src/movie.py:140-142 builds a dict; ours is a
#: broadcastable DataFrame).
GENRE_SCHEMA = T.StructType(
    [
        T.StructField("genre_id", T.LongType(), False),
        T.StructField("genre_name", T.StringType(), False),
    ]
)

def _columns(*cols: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(name, dtype, True) for name, dtype in cols])


_INT, _LONG, _DOUBLE, _STR = T.IntegerType(), T.LongType(), T.DoubleType(), T.StringType()
_TS_NTZ = T.TimestampNTZType()

#: The synthetic test tables (TESTDATA.md), typed as Spark reads their
#: Parquet files: every column nullable, and timestamps are TIMESTAMP(MICROS)
#: without UTC adjustment, hence ``timestamp_ntz``. ``io.load_table`` reads
#: with these, so no read infers a schema.
TESTDATA_SCHEMAS: dict[str, T.StructType] = {
    "region": _columns(("r_regionkey", _INT), ("r_name", _STR)),
    "nation": _columns(("n_nationkey", _INT), ("n_name", _STR), ("n_regionkey", _INT)),
    "customer": _columns(
        ("c_custkey", _LONG),
        ("c_name", _STR),
        ("c_nationkey", _INT),
        ("c_acctbal", _DOUBLE),
        ("c_mktsegment", _STR),
    ),
    "supplier": _columns(
        ("s_suppkey", _LONG), ("s_name", _STR), ("s_nationkey", _INT), ("s_acctbal", _DOUBLE)
    ),
    "part": _columns(
        ("p_partkey", _LONG),
        ("p_name", _STR),
        ("p_brand", _STR),
        ("p_type", _STR),
        ("p_size", _INT),
        ("p_retailprice", _DOUBLE),
    ),
    "orders": _columns(
        ("o_orderkey", _LONG),
        ("o_custkey", _LONG),
        ("o_orderstatus", _STR),
        ("o_totalprice", _DOUBLE),
        ("o_orderdate", _TS_NTZ),
        ("o_orderpriority", _STR),
    ),
    "lineitem": _columns(
        ("l_orderkey", _LONG),
        ("l_partkey", _LONG),
        ("l_suppkey", _LONG),
        ("l_linenumber", _INT),
        ("l_quantity", _DOUBLE),
        ("l_extendedprice", _DOUBLE),
        ("l_discount", _DOUBLE),
        ("l_tax", _DOUBLE),
        ("l_returnflag", _STR),
        ("l_linestatus", _STR),
        ("l_shipdate", _TS_NTZ),
    ),
    "events": _columns(
        ("event_id", _LONG),
        ("ts", _TS_NTZ),
        ("user_id", _LONG),
        ("event_type", _STR),
        ("value", _DOUBLE),
        ("props", _STR),
    ),
    "documents": _columns(
        ("doc_id", _LONG), ("text", _STR), ("lang", _STR), ("source", _STR), ("n_chars", _LONG)
    ),
    "embeddings": _columns(
        ("vec_id", _LONG), ("embedding", T.ArrayType(T.FloatType())), ("label", _INT)
    ),
}

#: Names of the synthetic tables, in declaration order.
TESTDATA_TABLES = list(TESTDATA_SCHEMAS)


def conform(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Project ``df`` onto ``schema``: reorder, cast, add missing columns as
    typed NULLs, drop extras.

    Columnar equivalent of the reference's ``reindex(columns=COLS)``
    (src/movie.py:205) plus dtype enforcement the reference never had.
    """
    cols = []
    have = set(df.columns)
    for field in schema.fields:
        if field.name in have:
            cols.append(F.col(field.name).cast(field.dataType).alias(field.name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(*cols)


def empty_movies(spark) -> DataFrame:
    """Empty relation with the movie schema — the reference's
    ``pd.DataFrame(columns=COLS)`` zero-row path (src/movie.py:271-272)."""
    return spark.createDataFrame([], MOVIE_SCHEMA)
