"""Output gate: DuckDB oracle results hashed the way the harness hashes
the engine's results (see Canonical.scala for the convention)."""
import datetime as dt
import decimal
import hashlib
import struct

import duckdb

NULL = "\u0000NULL"
EPOCH = dt.datetime(1970, 1, 1)
EPOCH_DAY = dt.date(1970, 1, 1)
_INTS = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT", "USMALLINT",
         "UINTEGER", "UBIGINT"}


def kind(t):
    """Type kind of a DuckDB column type, matching Canonical.kind."""
    t = str(t)
    if t.endswith("[]"):
        return f"list<{kind(t[:-2])}>"
    if t in _INTS:
        return "int"
    if t == "HUGEINT":
        return "int128"
    if t == "DOUBLE":
        return "f64"
    if t == "FLOAT":
        return "f32"
    if t.startswith("DECIMAL"):
        return "dec"
    if t == "VARCHAR":
        return "str"
    if t == "BOOLEAN":
        return "bool"
    if t.startswith("TIMESTAMP"):
        return "ts"
    if t == "DATE":
        return "date"
    if t == "BLOB":
        return "bin"
    return t.lower()


def render(k, v):
    if v is None:
        return NULL
    if k in ("int", "int128"):
        return str(v)
    if k == "f64":
        return struct.pack(">d", 0.0 if v == 0 else v).hex()
    if k == "f32":
        return struct.pack(">f", 0.0 if v == 0 else v).hex()
    if k == "dec":
        d = decimal.Decimal(v)
        return "0" if d == 0 else format(d.normalize(), "f")
    if k == "bool":
        return "true" if v else "false"
    if k == "ts":
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return str((v - EPOCH) // dt.timedelta(microseconds=1))
    if k == "date":
        return str((v - EPOCH_DAY).days)
    if k == "bin":
        return bytes(v).hex()
    if k.startswith("list<"):
        inner = k[5:-1]
        return "[" + ",".join(render(inner, x) for x in v) + "]"
    return str(v)


def canonical_hash(columns, types, rows):
    """(sha256 hex, row count): columns sorted by name, rows as given."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    kinds = [kind(t) for t in types]
    h = hashlib.sha256()
    h.update(("\u0001".join(f"{columns[i]}:{kinds[i]}" for i in order) + "\n").encode())
    for r in rows:
        line = "\u0001".join(render(kinds[i], r[i]) for i in order)
        h.update((line + "\n").encode())
    return h.hexdigest(), len(rows)


def connect(data_dir, tables):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def oracle_hashes(data_dir, oracle_sql, tables):
    """{query: (hash, rows) or error string} for each oracle SQL."""
    con = connect(data_dir, tables)
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            rel = con.sql(sql)
            out[name] = canonical_hash(rel.columns, rel.types, rel.fetchall())
        except duckdb.Error as e:
            out[name] = f"oracle error: {e}"
    return out


def stream_oracle(data_dir, setup_file, files, dedup_delay_min=10):
    """The final window table recomputed in batch over every published
    event file: events behind the watermark the set-up batch established
    are dropped, redeliveries are removed by event id, then the same
    one-minute window count and sum per customer segment.
    Returns (hash, rows, {(window micros, segment): n})."""
    con = connect(data_dir, ["customer"])
    quoted = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
    sql = f"""
      WITH raw AS (SELECT * FROM read_parquet([{quoted}], filename = true)),
      wm AS (SELECT max(ts) - INTERVAL {dedup_delay_min} MINUTE AS w
             FROM read_parquet('{setup_file}')),
      kept AS (SELECT * FROM raw WHERE filename = '{setup_file}'
               OR ts >= (SELECT w FROM wm)),
      dedup AS (SELECT DISTINCT ON (event_id) * FROM kept ORDER BY event_id)
      SELECT date_trunc('minute', ts) AS window_start, c_mktsegment AS segment,
             COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
      FROM dedup JOIN customer ON user_id = c_custkey
      GROUP BY 1, 2 ORDER BY 1, 2"""
    rel = con.sql(sql)
    rows = rel.fetchall()
    h, n = canonical_hash(rel.columns, rel.types, rows)
    counts = {(render("ts", r[0]), r[1]): r[2] for r in rows}
    return h, n, counts


def events_off(engine_rows, oracle_counts):
    """Events lost or double-counted: summed |n_engine - n_oracle| per
    (window, segment)."""
    got = {(r[0], r[1]): r[2] for r in engine_rows}
    keys = set(got) | set(oracle_counts)
    return sum(abs(got.get(k, 0) - oracle_counts.get(k, 0)) for k in keys)

