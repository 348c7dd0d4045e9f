"""Input validation + table IO helpers.

- ``validate_input_schema``: the reference validates its input envelope with
  jsonschema before any work (V1, /root/reference/scripts/markdown_agent.py:444);
  here the contract is the input-hint DataFrame schema — fail fast with a
  field-by-field diff instead of a mid-job analysis error.
- ``write_bucketed``: hash-bucketed tables (read back with
  ``spark.table``) so repeated joins/aggregations on the bucket key are
  co-located and need NO exchange — the storage-level answer to "don't
  shuffle the 100 TB side every query" (tests assert the join plan is
  exchange-free).
- ``local_frame``: the one way the driver builds a small frame it will
  write (lineage rows, identity stamps, codebooks).
- stamps: every resumable artifact records the parameters it was built
  with, and a later run with different ones is refused.
  ``check_stamp`` is the one comparison; ``read_table_stamp`` /
  ``write_table_stamp`` keep a stamp as ``<prefix>.<key>`` catalog table
  properties (the band and semantic indexes); ``read_dir_stamp`` /
  ``write_dir_stamp`` keep it as a one-row parquet dir (a job output's
  ``batch_identity`` and ``input_identity``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

INPUT_HINT_SCHEMA: dict[str, str] = {
    "conv_id": "string",
    "turn_idx": "int",
    "role": "string",
    "text": "string",
    "tool": "string",
    "ts": "timestamp",
}
# accepted spellings per field (parquet round-trips local timestamps as NTZ)
_COMPATIBLE: dict[str, set[str]] = {
    "turn_idx": {"int", "integer"},
    "ts": {"timestamp", "timestamp_ntz"},
}


def validate_input_schema(df: DataFrame) -> DataFrame:
    """Raise TypeError with a precise diff unless df matches the input hint
    ``(conv_id string, turn_idx int, role string, text string, tool string,
    ts timestamp)``. Returns df unchanged on success (chainable)."""
    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    problems: list[str] = []
    for name, want in INPUT_HINT_SCHEMA.items():
        ok = _COMPATIBLE.get(name, {want})
        if name not in actual:
            problems.append(f"missing column {name}:{want}")
        elif actual[name] not in ok:
            problems.append(f"column {name} is {actual[name]}, want {want}")
    extra = [n for n in actual if n not in INPUT_HINT_SCHEMA]
    if extra:
        problems.append(f"unexpected columns {extra}")
    if problems:
        raise TypeError("transcripts schema mismatch: " + "; ".join(problems))
    return df


def write_bucketed(
    df: DataFrame, table: str, path: str, key: str, n_buckets: int = 64,
    mode: str = "overwrite",
) -> None:
    """Persist hash-bucketed + sorted by ``key`` (bucket metadata lives in the
    session catalog; on a cluster this is the Iceberg/HMS table).
    ``mode='append'`` adds a new wave of bucket files to an existing table
    (each wave writes its own file per bucket; joins stay exchange-free —
    the append-only ingest pattern incremental dedup commits through)."""
    (
        df.write.mode(mode)
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .option("path", path)
        .format("parquet")
        .saveAsTable(table)
    )


def local_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """``rows`` under the DDL ``schema`` as an Arrow-backed ``LocalRelation``.

    ``createDataFrame`` over a Python list plans a Python RDD, and writing
    it starts Python workers: a one-row ``coalesce(1)`` append costs ~1.3
    CPU-s on a 4-core host, against ~0.25 from an Arrow table. A
    ``pyarrow.Table`` always takes the Arrow path — unlike a pandas frame,
    it has no fallback to the Python RDD when Arrow is disabled or fails."""
    import pyarrow as pa
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(schema)
    cols = [list(c) for c in zip(*rows)]
    return spark.createDataFrame(pa.table(dict(zip(struct.names, cols))), struct)


def check_stamp(have: dict[str, str | None], want: dict[str, str], refusal: str) -> list[str]:
    """Compare an artifact's stamp ``have`` with this run's values ``want``.

    A key stamped with a different value raises ``ValueError``: ``refusal``
    (why the artifact cannot be reused) followed by the key and both
    values. Returns the keys of ``want`` the stamp lacks (``None`` counts as
    lacking), so the caller can adopt an artifact written before the key
    existed by stamping it."""
    for key, value in want.items():
        if have.get(key) is not None and have[key] != value:
            raise ValueError(f"{refusal} (stamped {key}={have[key]!r}, this run {key}={value!r})")
    return [key for key in want if have.get(key) is None]


def read_table_stamp(spark: SparkSession, table: str, prefix: str) -> dict[str, str]:
    """The ``<prefix>.<key>`` properties of ``table`` as ``{key: value}``.

    Callers guard table existence. A failing properties read raises: a
    swallowed metastore error would switch the guard off for the very run
    it exists to refuse. A table written before stamps existed simply has
    no such keys."""
    start = f"{prefix}."
    return {
        str(r.key)[len(start):]: str(r.value)
        for r in spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
        if str(r.key).startswith(start)
    }


def write_table_stamp(spark: SparkSession, table: str, prefix: str, stamp: dict[str, str]) -> None:
    props = ", ".join(f"'{prefix}.{key}'='{value}'" for key, value in stamp.items())
    spark.sql(f"ALTER TABLE {table} SET TBLPROPERTIES ({props})")


def read_dir_stamp(spark: SparkSession, path: str, keys: tuple[str, ...]) -> dict[str, str | None]:
    """The one-row stamp under ``path``: ``{}`` when the dir is missing,
    ``None`` for a key whose column an older stamp lacks. Read with an
    all-string schema, so no schema-inference job runs. Only a missing
    path means "not stamped"; any other read failure raises."""
    from pyspark.errors import AnalysisException

    from docling_gfcr_spark.lineage import is_missing_input

    schema = ", ".join(f"{key} string" for key in keys)
    try:
        rows = spark.read.schema(schema).parquet(path).collect()
    except AnalysisException as e:
        if not is_missing_input(e):
            raise
        return {}
    return rows[0].asDict() if rows else {}


def write_dir_stamp(spark: SparkSession, path: str, stamp: dict[str, str]) -> None:
    schema = ", ".join(f"{key} string" for key in stamp)
    local_frame(spark, [tuple(stamp.values())], schema).write.mode("overwrite").parquet(path)
