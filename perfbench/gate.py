"""Correctness gate: runs after the timed phase, never inside it.

* Every dumped output that has a `SparkEntry.oracleSql` entry is compared
  with DuckDB over the same generated inputs, by an order-insensitive
  digest of canonicalized rows.
* The staged feed must have unique event ids, only delivered ids, every
  in-horizon delivered id, and the generator's row for each id.

Every mismatch and exception is returned by name; nothing is skipped
silently.
"""
import calendar
import datetime
import decimal
import glob
import hashlib
import json
import math
import os
import re

import pyarrow.dataset as ds

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPOCH_DAY = datetime.date(1970, 1, 1)


def canon(v):
    """Canonical text of one value. Numbers compare by value (an integral
    double equals the integer), timestamps as UTC epoch microseconds, dates
    as epoch days, structs as lists."""
    if v is None:
        return "n"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return f"i{v}"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "fnan"
        if math.isinf(v):
            return "f+inf" if v > 0 else "f-inf"
        if v.is_integer() and abs(v) < 2 ** 53:
            return f"i{int(v)}"
        return "f" + repr(v)
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return f"t{calendar.timegm(v.timetuple()) * 1_000_000 + v.microsecond}"
    if isinstance(v, datetime.date):
        return f"d{(v - EPOCH_DAY).days}"
    if isinstance(v, (bytes, bytearray)):
        return "x" + bytes(v).hex()
    if isinstance(v, dict):
        if set(v) == {"ts"}:
            return f"t{v['ts']}"
        if set(v) == {"d"}:
            return f"d{v['d']}"
        if set(v) == {"b"}:
            return "x" + v["b"]
        if set(v) == {"f"}:
            return {"NaN": "fnan", "Infinity": "f+inf", "-Infinity": "f-inf"}[v["f"]]
        return "[" + ",".join(canon(x) for x in v.values()) + "]"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return "s" + str(v)


def digest(columns, rows):
    """Order-insensitive digest of a row multiset: columns are taken in name
    order, each row hashes to 64 bits, and the hashes are summed."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    n = 0
    for r in rows:
        text = "\x1f".join(canon(r[i]) for i in order)
        h = hashlib.blake2b(text.encode("utf-8", "surrogatepass"), digest_size=8)
        total = (total + int.from_bytes(h.digest(), "little")) % (1 << 64)
        n += 1
    return {"columns": sorted(columns), "rows": n, "sum": total}


def read_dump(path):
    with open(path, encoding="utf-8") as fh:
        columns = json.loads(fh.readline())
        rows = [json.loads(line) for line in fh]
    return columns, rows


def duckdb_connect(data_dir, events_path=None, temp_dir=None):
    import duckdb
    config = {"threads": 2}
    if temp_dir:
        config["temp_directory"] = temp_dir
    con = duckdb.connect(config=config)
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        if t == "events" and events_path is not None:
            con.execute(
                "CREATE VIEW events AS SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, "
                "user_id, event_type, value, props "
                f"FROM read_parquet('{events_path}/*.parquet')")
        else:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def oracle_digest(con, sql, cache_dir):
    """DuckDB's digest of `sql`. A statement that does not read the
    seed-dependent `events` feed reads only the static tables, so its digest
    is kept in `cache_dir`, keyed by the statement text."""
    key = hashlib.sha256(sql.encode()).hexdigest()
    path = os.path.join(cache_dir, key + ".json")
    cacheable = re.search(r"\bevents\b", sql) is None
    if cacheable and os.path.isfile(path):
        with open(path) as fh:
            return json.load(fh)
    rel = con.sql(sql)
    d = digest(rel.columns, rel.fetchall())
    if cacheable:
        os.makedirs(cache_dir, exist_ok=True)
        with open(path + ".tmp", "w") as fh:
            json.dump(d, fh)
        os.replace(path + ".tmp", path)
    return d


def oracle_check(con, sql, dump_path, cache_dir):
    """None when the dump matches the oracle, else a one-line reason."""
    try:
        want = oracle_digest(con, sql, cache_dir)
    except Exception as e:  # noqa: BLE001 - reported by name
        return f"oracle error: {str(e).splitlines()[0]}"
    cols, rows = read_dump(dump_path)
    got = digest(cols, rows)
    if want["columns"] != got["columns"]:
        return f"columns differ: oracle {want['columns']} vs {got['columns']}"
    if want["rows"] != got["rows"]:
        return f"rows differ: oracle {want['rows']} vs {got['rows']}"
    if want["sum"] != got["sum"]:
        return "row digest differs"
    return None


def staged_check(staged_dir, feed):
    """Check a staged feed against what the generator delivered."""
    delivered = set()
    for f in feed["file_ids"]:
        delivered.update(f)
    horizon = feed["in_horizon"] & delivered
    parts = glob.glob(os.path.join(staged_dir, "*.parquet"))
    if not parts:
        return ["no parquet files"]
    t = ds.dataset(parts, format="parquet").to_table()
    ids = t.column("event_id").to_pylist()
    problems = []
    if len(ids) != len(set(ids)):
        problems.append(f"{len(ids) - len(set(ids))} duplicate event_id")
    extra = set(ids) - delivered
    if extra:
        problems.append(f"{len(extra)} ids never delivered")
    missing = horizon - set(ids)
    if missing:
        problems.append(f"{len(missing)} in-horizon ids missing")
    ev = feed["events"]
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    got = t.select(cols).to_pylist()
    bad = 0
    for r in got:
        i = r["event_id"]
        ts = r["ts"]
        micros = calendar.timegm(ts.utctimetuple()) * 1_000_000 + ts.microsecond
        if (micros != ev["ts"][i] or r["user_id"] != ev["user_id"][i]
                or r["event_type"] != ev["event_type"][i]
                or r["value"] != ev["value"][i] or r["props"] != ev["props"][i]):
            bad += 1
    if bad:
        problems.append(f"{bad} rows differ from the generated events")
    return problems
