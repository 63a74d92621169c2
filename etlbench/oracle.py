"""DuckDB oracle for the benchmark's verification repetition.

Runs `SparkEntry.oracleSql` on the same generated inputs and compares with
the Spark output using the rules of `tools/check.py`: column names, arrow
column types (canonicalized for representation only), row count, then every
cell exactly. Oracle answers are cached per workload, seed and SQL text.
"""
import datetime
import decimal
import hashlib
import math
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq


def canon_type(t):
    if pa.types.is_large_string(t) or pa.types.is_string(t):
        return "string"
    if pa.types.is_large_binary(t) or pa.types.is_binary(t):
        return "binary"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_decimal(t):
        return f"decimal(scale={t.scale})"
    if pa.types.is_large_list(t) or pa.types.is_list(t) or pa.types.is_fixed_size_list(t):
        return f"list<{canon_type(t.value_type)}>"
    if pa.types.is_map(t):
        return f"map<{canon_type(t.key_type)}, {canon_type(t.item_type)}>"
    if pa.types.is_struct(t):
        return "struct<" + ", ".join(
            f"{t.field(i).name}: {canon_type(t.field(i).type)}"
            for i in range(t.num_fields)) + ">"
    return str(t)


def normalize(v):
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def compare(spark_t, duck_t):
    """None when equal, else the first difference as a message."""
    scols, dcols = sorted(spark_t.column_names), sorted(duck_t.column_names)
    if scols != dcols:
        return f"columns spark={scols} duck={dcols}"
    for c in scols:
        st, dt = canon_type(spark_t.schema.field(c).type), canon_type(duck_t.schema.field(c).type)
        if st != dt:
            return f"type of {c}: spark={st} duck={dt}"
    if spark_t.num_rows != duck_t.num_rows:
        return f"rows spark={spark_t.num_rows} duck={duck_t.num_rows}"
    for c in scols:
        sv = [normalize(x) for x in spark_t.column(c).to_pylist()]
        dv = [normalize(x) for x in duck_t.column(c).to_pylist()]
        for i, (a, b) in enumerate(zip(sv, dv)):
            if a != b:
                return f"cell {c}[{i}]: spark={a!r} duck={b!r}"
    return None


class Oracle:
    def __init__(self, data_dir, cache_dir, threads, tmp_dir):
        self.cache_dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)
        self.data_dir = data_dir
        self.threads = threads
        self.tmp_dir = tmp_dir
        self.con = None

    def _connect(self):
        con = duckdb.connect()
        con.sql(f"SET threads={self.threads}")
        con.sql(f"SET temp_directory='{self.tmp_dir}'")
        for f in sorted(os.listdir(self.data_dir)):
            if f.endswith(".parquet"):
                con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(self.data_dir, f)}')")
        return con

    def answer(self, sql):
        """The oracle's result table for `sql`, from the cache if present."""
        key = hashlib.sha256(sql.encode()).hexdigest()[:16]
        path = os.path.join(self.cache_dir, f"{key}.parquet")
        if os.path.exists(path):
            return pq.read_table(path)
        if self.con is None:
            self.con = self._connect()
        t = self.con.sql(sql).arrow()
        pq.write_table(t, path + ".tmp")
        os.replace(path + ".tmp", path)
        return t

    def close(self):
        if self.con is not None:
            self.con.close()
