"""Oracle checks run in DuckDB after the timed phase.

The driver keeps each staged streaming run's final store; it is compared
here, row for row, with the repository's own registered oracle SQL
(``SparkEntry.oracleSql``) for the q165, q177 and q187 shapes, evaluated over
the same generated events.
"""
import collections
import json

import duckdb


def _diff(got, want):
    """Multiset difference summary of two row lists, or None if equal."""
    g = collections.Counter(tuple(r) for r in got)
    w = collections.Counter(tuple(r) for r in want)
    if g == w:
        return None
    extra, missing = g - w, w - g
    sample = next(iter(extra or missing))
    return (f"{len(got)} rows vs oracle {len(want)}; {sum(extra.values())} unexpected, "
            f"{sum(missing.values())} missing, e.g. {sample}")


def _stream(con, c, inp):
    con.execute(f"CREATE OR REPLACE TEMP VIEW events AS "
                f"SELECT event_id, make_timestamp(ts_us) AS ts, user_id, event_type, value "
                f"FROM read_parquet('{inp}/events.parquet') WHERE run_id = {c['run']}")
    with open(c["path"]) as f:
        out = json.load(f)
    rel = con.sql(c["oracle"])
    names = rel.columns
    want = rel.fetchall()
    if not out["rows"]:
        return None if not want else f"empty store, oracle has {len(want)} rows"
    pos = {n: i for i, n in enumerate(out["columns"])}
    if set(pos) != set(names):
        return f"columns {sorted(pos)} vs oracle {sorted(names)}"
    got = [tuple(r[pos[n]] for n in names) for r in out["rows"]]
    return _diff(got, want)


CHECKS = {"stream_ingest": _stream}


def run_pending(pending, inp):
    """Run every pending oracle comparison; return {op index: reason}."""
    failures = {}
    con = duckdb.connect()
    try:
        for c in pending:
            try:
                reason = CHECKS[c["check"]](con, c, inp)
            except Exception as e:  # an oracle that cannot run is a failed check
                reason = f"oracle error: {type(e).__name__}: {e}"
            if reason:
                failures[c["op"]] = reason
    finally:
        con.close()
    return failures
