"""Output checks, run once per op after the timed passes.

An op with a DuckDB oracle is compared the way the repo's oracle gate
compares a registry entry: row count, column names and types, and the
rows as a multiset (order-insensitive). The Spark side is the CSV the
sink wrote, parsed by DuckDB into the result's own column types, so the
check covers the sink too. An op without an oracle must write the same
rows as it wrote in the cold pass: same count and same order-insensitive
hash of the CSV lines.
"""

from __future__ import annotations

import hashlib
import os

# engine type names -> one vocabulary (the oracle gate's normalisation)
_TYPE_NORM = {"tinyint": "int", "smallint": "int", "integer": "int",
              "bigint": "long", "int32": "int", "int64": "long",
              "float": "double", "real": "double", "varchar": "string",
              "text": "string", "timestamp_ns": "timestamp",
              "timestamp with time zone": "timestamp", "boolean": "bool"}
# Spark simpleString -> DuckDB type, for parsing the sink's CSV
_DUCK_TYPE = {"string": "VARCHAR", "bigint": "BIGINT", "int": "INTEGER",
              "smallint": "SMALLINT", "tinyint": "TINYINT",
              "double": "DOUBLE", "float": "FLOAT", "boolean": "BOOLEAN",
              "date": "DATE"}


def _norm_type(t) -> str:
    t = str(t).lower()
    return "decimal" if t.startswith("decimal") else _TYPE_NORM.get(t, t)


def csv_digest(path: str) -> tuple[int, str]:
    """(data rows, sha256 of the header and the sorted data lines)."""
    with open(path, "rb") as fh:
        header, *lines = fh.read().split(b"\n")
    lines = [ln for ln in lines if ln]
    h = hashlib.sha256(header)
    for ln in sorted(lines):
        h.update(ln + b"\n")
    return len(lines), h.hexdigest()


def duckdb_connection(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            con.sql(f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, name)}')")
    return con


def _duckdb_type(spark_type: str) -> str:
    if spark_type.startswith("decimal"):
        return spark_type.upper()
    return _DUCK_TYPE[spark_type]


def oracle_mismatch(con, oracle: str, schema, path: str) -> str | None:
    """Compare the sink's CSV at `path` (written from a frame with
    `schema`) against the oracle SQL; None when they agree. The CSV is
    parsed with Spark's CSV conventions (backslash escapes, quoted empty
    string, unquoted empty for null) into the frame's own column types."""
    rel = con.sql(oracle)
    ocols, otypes = rel.columns, rel.types
    scols = schema.fieldNames()
    if sorted(c.lower() for c in scols) != sorted(c.lower() for c in ocols):
        return f"columns spark={sorted(scols)} duckdb={sorted(ocols)}"
    otype = {c.lower(): _norm_type(t) for c, t in zip(ocols, otypes)}
    for f in schema.fields:
        st, ot = _norm_type(f.dataType.simpleString()), otype[f.name.lower()]
        if st != ot:
            return f"type of {f.name}: spark={st} duckdb={ot}"
    types = ", ".join(
        f"'{f.name}': '{_duckdb_type(f.dataType.simpleString())}'"
        for f in schema.fields)
    con.sql(f"""CREATE OR REPLACE TEMP VIEW sink_out AS SELECT * FROM read_csv(
        '{path}', header = true, columns = {{{types}}}, quote = '"',
        escape = '\\', allow_quoted_nulls = false)""")
    pick = ", ".join(f'"{c}"' for c in sorted(scols, key=str.lower))
    n_out, n_oracle, only_oracle, only_out = con.sql(f"""
        WITH o AS ({oracle})
        SELECT (SELECT count(*) FROM sink_out), (SELECT count(*) FROM o),
               (SELECT count(*) FROM (SELECT {pick} FROM o
                                      EXCEPT ALL SELECT {pick} FROM sink_out)),
               (SELECT count(*) FROM (SELECT {pick} FROM sink_out
                                      EXCEPT ALL SELECT {pick} FROM o))
    """).fetchone()
    if n_out != n_oracle:
        return f"rowcount spark={n_out} duckdb={n_oracle}"
    if only_oracle or only_out:
        return (f"values differ: {only_oracle} oracle rows and {only_out} "
                "output rows unmatched")
    return None
