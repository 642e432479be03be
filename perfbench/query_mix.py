"""``query_mix``: the 17 headline queries, one closed-loop client.

Each query is built by calling its plan function (driver side, with
whatever eager actions it runs) and executed as a noop-sink write, the
way bench.py runs them, in ``bench.HEADLINE`` order and over again
until the time is up, after a compile-warm pass. The seed generates
the tables. Every execution's result digest is compared with the
digest of the DuckDB oracle SQL on the same tables; q25 and q47
(MinHash LSH and IVF search) have no SQL oracle, so each of their
executions must match the digest of their first execution in the run.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import duckdb

import bench
from perfbench import digest, gen
from perfbench.spans import timing_metrics
from timebox_spark.plans import llm_queries as LQ
from timebox_spark.plans import queries as Q
from timebox_spark.plans import tables
from timebox_spark.session import ship_package

QUERIES = bench.HEADLINE
# queries that write their result under a path of their own choosing;
# the benchmark reads the bytes they leave and removes them afterwards
STORE_QUERIES = {"q01_roundtrip": "q01", "q17_npb_roundtrip": "q17"}


def oracle_sql(name: str) -> str | None:
    return Q.ORACLE_SQL.get(name) or LQ.ORACLE_SQL.get(name)


def oracle_digests(sf_dir: str) -> dict[str, dict]:
    """DuckDB oracle digest per query that has oracle SQL."""
    con = duckdb.connect()
    try:
        for t in tables.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        out = {}
        for name in QUERIES:
            sql = oracle_sql(name)
            if sql is None:
                continue
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            out[name] = digest.from_rows(cols, cur.fetchall())
        return out
    finally:
        con.close()


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class QueryMix:
    """Workload interface (shared by every workload): ``prepare`` writes
    the inputs, ``warm`` compile-warms, ``measure`` runs operations for
    a time budget, ``report`` returns the metrics."""

    def __init__(self, spark, tracer, data: str, prep: dict, corrupt: bool = False):
        self.spark = spark
        self.tracer = tracer
        self.sf_dir = f"{data}/sf"
        self.rows = prep["rows"]
        # smoke mode: duplicate one row of q11's result
        self.corrupt = "q11_filter_agg" if corrupt else None
        self.expected = oracle_digests(self.sf_dir)
        # per query, one entry per measured execution
        self.build: dict[str, list[dict]] = {q: [] for q in QUERIES}
        self.execs: dict[str, list[dict]] = {q: [] for q in QUERIES}
        self.runs: dict[str, list[dict]] = {q: [] for q in QUERIES}
        self.attempted = self.executions = 0
        self.failures: list[str] = []

    @staticmethod
    def prepare(data: str, seed: int, scale: dict) -> dict:
        return {"rows": gen.write_tables(f"{data}/sf", seed, scale["sf"])}

    def run_query(self, name: str, measured: bool = True) -> dict:
        """Build and execute one query; returns its result digest."""
        with self.tracer.span(f"plans.build.{name}", measured) as b:
            df = QUERIES[name](self.spark, self.sf_dir)
        if name == self.corrupt:
            df = df.unionByName(df.limit(1))
        df, obs = digest.observed(df, f"perfbench_{name}")
        with self.tracer.span(f"plans.exec.{name}", measured) as e:
            df.write.mode("overwrite").format("noop").save()
        if measured:
            self.build[name].append(b)
            self.execs[name].append(e)
            self.runs[name].append({k: b[k] + e[k] for k in ("s", "cpu", "jit")})
        return digest.from_observation(df.schema, obs.get)

    def warm(self) -> None:
        """One pass over the measured tables, one query per core at a
        time: every query's first execution (codegen, JIT, Python
        workers) happens here. Running them side by side only shortens
        set-up; measured queries run one at a time."""
        from concurrent.futures import ThreadPoolExecutor

        def run(name: str) -> None:
            df = QUERIES[name](self.spark, self.sf_dir)
            df.write.mode("overwrite").format("noop").save()

        ship_package(self.spark)  # once, before the threads race to it
        with ThreadPoolExecutor(self.spark.sparkContext.defaultParallelism) as pool:
            for future in [pool.submit(run, q) for q in QUERIES]:
                future.result()

    def measure(self, seconds: float) -> None:
        """The queries in turn, one at a time, until ``seconds`` have
        passed and every query has run at least once."""
        names = list(QUERIES)
        t_end = time.perf_counter() + seconds
        while self.executions < len(names) or time.perf_counter() < t_end:
            name = names[self.executions % len(names)]
            if name == names[0]:
                # q25 persists its signatures; a later pass must not hit them
                self.spark.catalog.clearCache()
            self.executions += 1
            self.attempted += 1
            try:
                got = self.run_query(name)
            except Exception as exc:  # a failed query is counted, not fatal
                self.failures.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
                continue
            want = self.expected.setdefault(name, got)
            why = digest.mismatch(got, want)
            if why:
                self.failures.append(f"{name}: {why}")

    @property
    def failed(self) -> int:
        return len(self.failures)

    @property
    def units(self) -> float:
        """Passes measured (a part-pass counts its share)."""
        return self.executions / len(QUERIES)

    def report(self) -> tuple[dict, dict, dict]:
        """(end-to-end metrics, per-layer metrics, detail)."""
        ok = {q: r for q, r in self.runs.items() if r}
        e2e, layer = timing_metrics(ok)
        # bytes q01 (TimeBoxTable parquet) and q17 (.npb) leave on disk
        # per events row they store
        stored = sum(_dir_bytes(Q._tmp(p, self.sf_dir)) for p in STORE_QUERIES.values())
        e2e["stored_bytes_per_row"] = stored / (len(STORE_QUERIES) * self.rows["events"])
        detail = {
            "query": {q: [(round(r["s"], 3), round(r["cpu"], 2)) for r in runs]
                      for q, runs in ok.items()},
            "failures": self.failures,
        }
        if self.tracer.enabled:
            n = self.units
            spans = {"build": self.build, "exec": self.execs}
            for kind, by_query in spans.items():
                layer[f"plans.{kind}_s"] = sum(sp["s"] for q in QUERIES for sp in by_query[q]) / n
                layer[f"plans.{kind}_jobs"] = sum(
                    sp["jobs"] for q in QUERIES for sp in by_query[q]
                ) / n
            for field in ("stages", "tasks"):
                layer[f"plans.{field}"] = sum(
                    sp[field] for by_query in spans.values() for q in QUERIES for sp in by_query[q]
                ) / n
            for q in ok:
                layer[f"plans.{q}.s"] = statistics.median(r["s"] for r in ok[q])
                layer[f"plans.{q}.jobs"] = statistics.median(
                    b["jobs"] + e["jobs"] for b, e in zip(self.build[q], self.execs[q])
                )
            layer["tables.load_s"], layer["tables.load_jobs"] = self._time_table_loads()
        return e2e, layer, detail

    def _time_table_loads(self) -> tuple[float, int]:
        """``tables.load`` timed standalone for every table: (s, jobs)."""
        secs = jobs = 0
        for t in tables.TABLES:
            with self.tracer.span(f"tables.load.{t}", measured=False) as s:
                tables.load(self.spark, self.sf_dir, t)
            secs += s["s"]
            jobs += s["jobs"]
        return secs, jobs

    def cleanup(self) -> None:
        for prefix in STORE_QUERIES.values():
            shutil.rmtree(Q._tmp(prefix, self.sf_dir), ignore_errors=True)
