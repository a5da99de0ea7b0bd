"""Expected outputs, computed by the engine's DuckDB oracles and cached.

``python perfbench/oracles.py <cache_file>`` writes every oracle result the
workloads check against, over the tables in ``perfbench/fixture``, into one
pickle. It runs in its own process so that the benchmark process imports the
engine for the first time inside its timed set-up. The cache is keyed by the
engine's source, the benchmark's workload and oracle code and the tables, so
a changed oracle is recomputed; only this program writes and reads the file.
"""

from __future__ import annotations

import datetime as dt
import glob
import hashlib
import os
import pickle
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "dock_financial_data_pipelines_spark"
# The engine's sf0.01 reference tables, kept in the benchmark as they are.
FIXTURE = os.path.join(HERE, "fixture")


def cache_key() -> str:
    """Hash of the engine package, the benchmark's oracle code and the tables."""
    files = sorted(glob.glob(os.path.join(ROOT, PKG, "**", "*.py"), recursive=True))
    files += [os.path.join(HERE, f) for f in ("oracles.py", "workloads.py")]
    files += sorted(glob.glob(os.path.join(FIXTURE, "*.parquet")))
    h = hashlib.sha1()
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _next_day(day: str) -> str:
    return (dt.date.fromisoformat(day) + dt.timedelta(days=1)).isoformat()


def _substitute(sql: str, pairs: dict[str, str], name: str) -> str:
    """Replace every key of ``pairs`` by its value in one pass, so that a
    new value equal to another key is not replaced again."""
    for old in pairs:
        if old not in sql:
            raise ValueError(f"oracle of {name} no longer contains {old}")
    return re.sub("|".join(map(re.escape, pairs)), lambda m: pairs[m.group(0)], sql)


def job_oracle_sql(oracles: dict[str, str], job: str, day: str) -> str:
    """The registered oracle of the query a job publishes, parametrized by
    the job's day (``daily_events`` has no registered query: a plain
    day filter is its definition)."""
    nxt = _next_day(day)
    if job == "account_statement":
        return _substitute(
            oracles["pipeline_account_statement"],
            {"TIMESTAMP '2024-01-08'": f"TIMESTAMP '{day}'",
             "TIMESTAMP '2024-01-15'": f"TIMESTAMP '{nxt}'"},
            "pipeline_account_statement",
        )
    if job == "balance_report":
        return _substitute(
            oracles["pipeline_balance_report"], {"'1998-12-31'": f"'{day}'"},
            "pipeline_balance_report",
        )
    if job == "daily_events":
        return (
            "SELECT * FROM events "
            f"WHERE ts >= TIMESTAMP '{day}' AND ts < TIMESTAMP '{nxt}'"
        )
    raise ValueError(f"no oracle for job {job}")


def build(cache_file: str) -> None:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads
    from tests._compare import duck_connection

    import dock_financial_data_pipelines_spark as engine

    engine.load_all()
    con = duck_connection(FIXTURE)
    try:
        queries = {n: con.execute(engine.ORACLES[n]).df() for n in workloads.all_query_names()}
        jobs = {}
        for job, _ in workloads.DAILY_JOBS:
            days = workloads.AS_OF_DAYS if job == "balance_report" else workloads.EVENT_DAYS
            for day in days:
                sql = job_oracle_sql(engine.ORACLES, job, day)
                jobs[(job, day)] = con.execute(sql).df()
    finally:
        con.close()
    tmp = f"{cache_file}.tmp"
    with open(tmp, "wb") as fh:
        pickle.dump({"queries": queries, "jobs": jobs}, fh)
    os.replace(tmp, cache_file)


def load(cache_file: str) -> dict:
    with open(cache_file, "rb") as fh:
        return pickle.load(fh)


if __name__ == "__main__":
    build(sys.argv[1])
