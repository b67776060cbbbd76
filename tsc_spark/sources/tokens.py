"""Canonical tokens-table reader: Iceberg catalog table or parquet path.

The engine's input contract (BASELINE.json ``input_hint``) is an Iceberg
table of pre-tokenized training sequences::

    tokens(doc_id: string, tokens: array<int>, n_tok: int, source: string)

Token contract rules every reader output obeys or fails on:

* ``n_tok`` is always ``size(tokens)``, derived here; a stored ``n_tok``
  is never trusted, so it cannot disagree with the array.
* A token array may be empty or NULL (the doc has no points), but its
  elements must not be NULL.  A NULL element is rejected where the
  rollup touches the values (``operators.rollup.NULL_TOKEN_MESSAGE``):
  the tier-1/2 kernel checks the Arrow child array's null count and
  tier 0 checks each exploded token.  There is no separate check here:
  parquet reads ``tokens`` back as ``containsNull=true`` whatever was
  written, so a type-based skip would never fire and a per-element
  check would cost every scan.

On a real cluster that table lives in an Iceberg catalog and is read via
``spark.read.table("catalog.db.tokens")`` (or ``format("iceberg")``),
which gives partition pruning, hidden-partitioning pushdown, and
snapshot/time-travel reads for free through DataSourceV2.  The sandbox
has no Iceberg runtime jar, so the same entry point also accepts a plain
parquet path — the physical layout the test corpus uses — and both
branches land on one canonicalization step so every downstream operator
sees the exact contract schema regardless of storage.

Reference analogue: the InfluxDB corpus scan that reconstructs per-series
vectors before compute (/root/reference/src/controllers/
time_series_controller.jl:755-758); series_id tag tuple ->  doc_id.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["TOKENS_COLUMNS", "read_tokens", "canonicalize_tokens"]

TOKENS_COLUMNS = ("doc_id", "tokens", "n_tok", "source")

_INTEGRAL_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)

# dotted identifier chain, each part optionally backtick-quoted — what a
# catalog table reference may look like; anything else is not safe to
# splice into the time-travel SQL below
_TABLE_REF = re.compile(r"^(`[^`]+`|\w+)(\.(`[^`]+`|\w+))*$")


def _infer_fmt(location: str) -> str:
    # a filesystem path (separator or parquet suffix) is parquet;
    # anything else is a catalog table name like `cat.db.tokens`.  A
    # bare name that BOTH parses as a table reference AND exists on the
    # driver-local filesystem is ambiguous — silently preferring the
    # local path would shadow a catalog table with whatever file happens
    # to share its name, so the caller must disambiguate via fmt=.
    if "/" in location or "\\" in location or location.endswith(".parquet"):
        return "parquet"
    if os.path.exists(location):
        if _TABLE_REF.match(location):
            raise ValueError(
                f"ambiguous tokens location {location!r}: it is a valid "
                "catalog table reference AND an existing local path — "
                "pass fmt='table' or fmt='parquet' explicitly"
            )
        return "parquet"
    return "table"


def canonicalize_tokens(df: DataFrame) -> DataFrame:
    """Project any storage schema onto the contract schema.

    Requires ``doc_id`` and ``tokens`` (integral element type — a
    string/double array would cast to nulls or silently truncate, so it
    is rejected instead); derives ``n_tok`` (=size(tokens), whether or
    not the table stores one) and ``source`` (='unknown') when the
    physical table lacks it, and pins
    the exact types (doc_id string, tokens array<int>, n_tok int) so
    operator code never branches on storage dialects.
    """
    cols = set(df.columns)
    missing = {"doc_id", "tokens"} - cols
    if missing:
        raise ValueError(
            f"tokens table is missing required column(s) {sorted(missing)}; "
            f"found {sorted(cols)} — expected at least (doc_id, tokens)"
        )
    tok_field = df.schema["tokens"].dataType
    if not isinstance(tok_field, T.ArrayType) or not isinstance(
        tok_field.elementType, _INTEGRAL_TYPES
    ):
        raise ValueError(
            "tokens column must be an integral array (array<int>/bigint/...), "
            f"found {tok_field.simpleString()} — a non-integral cast would "
            "null or truncate token values silently"
        )
    source = F.col("source") if "source" in cols else F.lit("unknown")
    if isinstance(tok_field.elementType, T.LongType):
        # with ANSI mode off, bigint→int silently WRAPS values above
        # 2^31-1 — the exact truncation this function's integral-type
        # check exists to prevent.  Guard each element: out-of-range
        # raises instead of wrapping (tokens are vocab indices, so real
        # values are far below the bound and the branch never fires).
        lo, hi = -(2**31), 2**31 - 1
        tokens_col = F.transform(
            F.col("tokens"),
            lambda x: F.when(
                (x < F.lit(lo)) | (x > F.lit(hi)),
                F.raise_error(
                    F.concat(
                        F.lit("token value out of int32 range: "),
                        x.cast("string"),
                    )
                ).cast("int"),
            ).otherwise(x.cast("int")),
        )
    else:
        tokens_col = F.col("tokens").cast("array<int>")
    return df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        tokens_col.alias("tokens"),
        F.size("tokens").alias("n_tok"),
        source.cast("string").alias("source"),
    )


def _runtime_hint(location: str, fmt: str, exc: Exception) -> RuntimeError:
    return RuntimeError(
        f"could not read tokens table {location!r} as {fmt}: {exc}\n"
        "If this is an Iceberg table, launch with the runtime jar, e.g. "
        "spark-submit --packages "
        "org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<version> "
        "and a configured catalog (spark.sql.catalog.<name>)."
    )


def read_tokens(
    spark: SparkSession,
    location: str,
    *,
    fmt: str | None = None,
    snapshot_id: int | None = None,
    as_of_timestamp: int | None = None,
    branch: str | None = None,
) -> DataFrame:
    """Read the tokens table from ``location`` and canonicalize it.

    ``location`` is either a catalog table name (``cat.db.tokens`` — the
    Iceberg production path) or a parquet directory/file path (the
    sandbox/test path).  ``fmt`` forces ``"table"``, ``"iceberg"`` or
    ``"parquet"``; by default it is inferred (path separators, a
    .parquet suffix, or an existing local path => parquet).

    Time-travel: ``snapshot_id``/``branch`` become ``VERSION AS OF`` and
    ``as_of_timestamp`` (epoch SECONDS on every path; the DSv2 option is
    milliseconds and is converted internally) ``TIMESTAMP AS OF`` on the
    catalog path — SQL time-travel HARD-FAILS on tables that don't
    support it, unlike DSv2 reader options which non-Iceberg relations
    silently drop (returning current data for a historical query).  On
    the ``iceberg`` format path the equivalent DSv2 options are used.
    Parquet has no snapshot lineage, so time-travel there is rejected.
    The three selectors are mutually exclusive — a silently-ignored
    selector would read a different snapshot than the caller asked for.
    """
    if fmt not in (None, "parquet", "iceberg", "table"):
        raise ValueError(
            f"unknown tokens format {fmt!r}; expected parquet/iceberg/table"
        )
    fmt = fmt or _infer_fmt(location)
    travel = {
        "snapshot-id": None if snapshot_id is None else int(snapshot_id),
        # the DSv2 reader option takes epoch-MILLISECONDS; the public
        # parameter is epoch-seconds everywhere (matching the SQL
        # `TIMESTAMP AS OF <seconds>` cast), so convert here — a unit
        # mismatch between the two paths silently time-travels to the
        # wrong snapshot (a future instant resolves to "latest")
        "as-of-timestamp": (
            None if as_of_timestamp is None else int(as_of_timestamp) * 1000
        ),
        "branch": branch,
    }
    travel = {k: v for k, v in travel.items() if v is not None}
    if len(travel) > 1:
        # Spark's SQL grammar takes exactly one AS OF clause; picking a
        # winner would silently ignore the others (e.g. branch +
        # as_of_timestamp reading MAIN's history instead of the branch)
        raise ValueError(
            f"time-travel selectors are mutually exclusive, got {sorted(travel)}"
        )
    if branch is not None and not re.fullmatch(r"[A-Za-z0-9._\-]+", branch):
        raise ValueError(f"not a valid Iceberg branch name: {branch!r}")
    if fmt == "parquet":
        if travel:
            raise ValueError(
                f"time-travel options {sorted(travel)} require an Iceberg "
                "table; parquet paths have no snapshot lineage"
            )
        return canonicalize_tokens(spark.read.parquet(location))

    if fmt == "table" and travel:
        if not _TABLE_REF.match(location):
            raise ValueError(
                f"not a valid catalog table reference: {location!r}"
            )
        if as_of_timestamp is not None:
            clause = f"TIMESTAMP AS OF {int(as_of_timestamp)}"
        elif snapshot_id is not None:
            clause = f"VERSION AS OF {int(snapshot_id)}"
        else:
            clause = f"VERSION AS OF '{branch}'"
        try:
            df = spark.sql(f"SELECT * FROM {location} FOR {clause}")
        except Exception as exc:
            raise _runtime_hint(location, fmt, exc) from exc
        return canonicalize_tokens(df)

    try:
        if fmt == "iceberg":
            reader = spark.read
            for opt, val in travel.items():
                reader = reader.option(opt, str(val))
            df = reader.format("iceberg").load(location)
        else:
            df = spark.read.table(location)
    except Exception as exc:
        msg = str(exc)
        # only rewrap genuinely runtime-shaped failures (missing data
        # source class); a TABLE_OR_VIEW_NOT_FOUND for a catalog that
        # happens to be named 'iceberg' must surface as-is
        if fmt == "iceberg" and (
            "Failed to find" in msg
            or "DATA_SOURCE_NOT_FOUND" in msg
            or "ClassNotFound" in msg
        ):
            raise _runtime_hint(location, fmt, exc) from exc
        raise
    return canonicalize_tokens(df)
