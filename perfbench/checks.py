"""Output checks, run with DuckDB over the files the program wrote.

Each check returns a list of problems (empty = correct):

- `check_weather`: the final clean table against the generator's
  last-writer-wins truth (row count plus an order-insensitive digest,
  read over the hive-partitioned parquet), and Q1-Q3 re-run by DuckDB on
  the same files against the answers Spark returned.
- `check_oracle`: a Spark result against its DuckDB oracle SQL, by an
  order-insensitive digest of canonicalised rows.
- `check_mix`: every catalog key's cold-pass and warm-pass outputs
  against its oracle digest (so the two are also equal), and the row
  count of every timed call against the oracle's.
"""
import datetime as dt
import decimal
import hashlib
import math
import os

import duckdb
import pyarrow as pa

import gen

# clean-table columns the weather digest covers, with their DuckDB types
WX_COLS = [("island", "VARCHAR"), ("location_name", "VARCHAR"), ("date", "DATE"),
           ("year", "BIGINT"), ("month", "BIGINT"),
           ("weather_code", "BIGINT"), ("temperature_2m_max", "DOUBLE"),
           ("temperature_2m_min", "DOUBLE"), ("sunshine_duration", "DOUBLE"),
           ("precipitation_sum", "DOUBLE"), ("cloudcover", "DOUBLE"),
           ("uvindex", "DOUBLE"), ("conditions", "VARCHAR")]


def _wx_digest(con, relation):
    cols = ", ".join(f"CAST({c} AS {t})" for c, t in WX_COLS)
    return con.execute(
        f"SELECT count(*), sum(hash({cols})::HUGEINT) FROM {relation}").fetchone()


def weather_truth_table(seed, shape, applied):
    rows = gen.weather_truth(seed, shape["bulk_days"], shape["batches"], applied)
    cols = {c: [] for c, _ in WX_COLS}
    for island, loc, date, om, vc in rows:
        cols["island"].append(island)
        cols["location_name"].append(loc)
        cols["date"].append(date)
        cols["year"].append(date.year)
        cols["month"].append(date.month)
        for c in ["weather_code", "temperature_2m_max", "temperature_2m_min",
                  "sunshine_duration", "precipitation_sum"]:
            cols[c].append(om[c])
        for c in ["cloudcover", "uvindex", "conditions"]:
            cols[c].append(vc[c])
    return pa.table(cols)


def weather_sql(clean_dir):
    return (f"read_parquet('{clean_dir}/**/*.parquet', hive_partitioning = true, "
            "hive_types_autocast = true)")


def check_weather(seed, shape, clean_dir, applied, answers):
    problems = []
    con = duckdb.connect()
    con.register("truth", weather_truth_table(seed, shape, applied))
    want = _wx_digest(con, "truth")
    got = _wx_digest(con, weather_sql(clean_dir))
    if got != want:
        problems.append(f"clean table: (rows, digest) {got} != truth {want}")
    con.execute(f"CREATE VIEW clean AS SELECT * FROM {weather_sql(clean_dir)}")
    oracle = {
        "q1": con.execute(
            "SELECT location_name, round(avg(sunshine_duration) / 3600, 2) AS s "
            "FROM clean GROUP BY 1 ORDER BY s DESC, location_name").fetchall(),
        "q2": con.execute(
            "SELECT location_name, CAST(month AS INTEGER), "
            "round(avg(sunshine_duration) / 3600, 2) AS s FROM clean GROUP BY 1, 2 "
            "ORDER BY s DESC, 1, 2 LIMIT 10").fetchall(),
        "q3": con.execute(
            "SELECT CAST(month AS INTEGER), round(avg(uvindex), 1) FROM clean "
            "WHERE location_name = 'Las_Palmas_de_Gran_Canaria' "
            "GROUP BY 1 ORDER BY 1").fetchall(),
    }
    for q, rows in oracle.items():
        spark_rows = answers.get(q) or []
        if not _rows_close(rows, spark_rows):
            problems.append(f"{q}: spark {spark_rows[:3]}... != duckdb {rows[:3]}...")
    return problems


def _rows_close(a, b, tol=0.0105):
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        if len(x) != len(y):
            return False
        for u, v in zip(x, y):
            if isinstance(u, float) or isinstance(v, float):
                if u is None or v is None or abs(float(u) - float(v)) > tol:
                    return False
            elif u != v:
                return False
    return True


def _canon(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "B" + str(v)
    if isinstance(v, float):
        return "F" + ("nan" if math.isnan(v) else repr(v))
    if isinstance(v, decimal.Decimal):
        return "D" + format(v.normalize(), "f") if v == v else "Dnan"
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    if isinstance(v, (dt.datetime, dt.date, dt.time)):
        return "T" + v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={_canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (bytes, bytearray)):
        return "X" + bytes(v).hex()
    return "S" + str(v)


def rows_digest(con, sql):
    """(row count, md5 of the sorted canonical rows, columns by name)."""
    rel = con.sql(sql)
    names = rel.columns
    order = sorted(range(len(names)), key=lambda i: names[i])
    rows = sorted("|".join(_canon(r[i]) for i in order) for r in rel.fetchall())
    h = hashlib.md5()
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return [len(rows), ",".join(sorted(names)), h.hexdigest()]


def oracle_con(tables_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for f in sorted(os.listdir(tables_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(tables_dir, f)}')")
    return con


def check_oracle(key, spark_dir, oracle_digest):
    con = duckdb.connect()
    got = rows_digest(con, f"SELECT * FROM read_parquet('{spark_dir}/*.parquet')")
    if got != oracle_digest:
        return [f"{key}: spark (rows, cols, digest) {got} != oracle {oracle_digest}"]
    return []


def check_mix(oracle, work, row_counts):
    """`oracle` maps key -> oracle digest; the outputs are under
    `<work>/cold/<key>` and `<work>/warm/<key>`; `row_counts` maps key ->
    the distinct counts its timed calls returned."""
    problems = [f"{k}: no oracle" for k in sorted(set(row_counts) - set(oracle))]
    for key, want in sorted(oracle.items()):
        for side in ("cold", "warm"):
            problems += check_oracle(f"{key} ({side})",
                                     os.path.join(work, side, key), want)
        if row_counts.get(key) != [want[0]]:
            problems.append(f"{key}: timed calls counted {row_counts.get(key)} rows, "
                            f"oracle {want[0]}")
    return problems
