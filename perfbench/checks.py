"""Output checks for the batch workloads, and the traffic measurement
the stream generator's parameters come from.

Each query's verified-pass rows (parquet written by the harness) are
compared with DuckDB's replay of its `SparkEntry.oracleSql` over the
same tables, under the rules of the repository's correctness gate:
columns sorted by name, non-integer type drift is a failure, rows
compared in order. A query without an oracle is checked for a
non-empty result only. Each query's digest is a SHA-256 of its
normalized rows.
"""
import hashlib
import math

INT_TYPES = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT"}


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def _digest(rows):
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()[:16]


def _sorted_rows(rel):
    cols = [d[0] for d in rel.description]
    idx = [i for _, i in sorted((c, i) for i, c in enumerate(cols))]
    types = {c: str(t) for c, t in zip(cols, rel.types)}
    rows = [tuple(_norm(r[i]) for i in idx) for r in rel.fetchall()]
    return sorted(cols), types, rows


def check_batch(data_dir, tables, verify_dir, oracle, verified):
    """Returns {"queries": {name: {rows, digest, oracle}}, "failures": [...]}."""
    import duckdb
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    for t in tables:
        if (data_dir / f"{t}.parquet").exists():
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out, failures = {}, []
    for name in sorted(verified):
        gcols, gtypes, got = _sorted_rows(con.sql(f"SELECT * FROM '{verify_dir}/{name}/*.parquet'"))
        rec = {"rows": len(got), "digest": _digest(got), "oracle": None}
        out[name] = rec
        sql = oracle.get(name)
        if sql is None:
            rec["oracle"] = "rows only"
            if not got:
                failures.append(f"{name}: no rows")
            continue
        try:
            wcols, wtypes, want = _sorted_rows(con.sql(sql))
        except Exception as e:  # an oracle that cannot run is a failed check
            failures.append(f"{name}: oracle error {e}")
            continue
        rec["oracle"] = _digest(want)
        drift = {c: (gtypes[c], wtypes[c]) for c in gtypes
                 if c in wtypes and gtypes[c] != wtypes[c]
                 and not (gtypes[c] in INT_TYPES and wtypes[c] in INT_TYPES)}
        if gcols != wcols:
            failures.append(f"{name}: columns {gcols} vs oracle {wcols}")
        elif drift:
            failures.append(f"{name}: type drift {drift}")
        elif got != want:
            bad = next(i for i, (a, b) in enumerate(zip(got + [None], want + [None])) if a != b)
            failures.append(f"{name}: {len(got)} rows vs oracle {len(want)}, first difference at row {bad}")
    return {"queries": out, "failures": failures}


def measure_events(path):
    """The traffic figures of an `events` table, rounded as
    workloads.json records them: event count, user and item (`props.k`)
    cardinalities, event-type shares, mean gap between consecutive
    event times, mean `value`, and the share of events whose time is
    earlier than an event with a smaller `event_id` (late arrivals)."""
    import duckdb
    con = duckdb.connect()
    con.sql(f"""CREATE VIEW e AS SELECT event_id, epoch_us(ts) AS t, user_id, event_type,
                value, json_extract_string(props, '$.k') AS item FROM '{path}'""")
    n, users, items, span_us, value = con.sql(
        "SELECT count(*), count(DISTINCT user_id), count(DISTINCT item), "
        "max(t) - min(t), avg(value) FROM e").fetchone()
    late = con.sql("""SELECT count(*) FROM (SELECT t < max(t) OVER (ORDER BY event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS late FROM e)
                      WHERE late""").fetchone()[0]
    types = dict(con.sql("SELECT event_type, round(count(*) / $n, 4) FROM e "
                         "GROUP BY 1 ORDER BY 2 DESC, 1", params={"n": n}).fetchall())
    return {"events": n, "users": users, "items": items,
            "mean_gap_s": round(span_us / 1e6 / (n - 1), 2), "value_mean": round(value, 2),
            "types": types, "late_share": round(late / n, 4)}
