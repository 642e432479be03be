"""``timebox_store``: the reference's write | read | FileSize harness on
the timebox formats, one closed-loop client.

Two seeded series, one per time-index kind:

- ``ohlcv``: regular one-minute bars, open/high/low/close with 2
  decimals and volume with 6 (FIXTURES F3), written with the
  reference's compressed configuration (fixed decimals, delta ``'e'``
  for prices, frame-of-reference ``'m'`` for volume);
- ``ints``: irregular spacing (1-120 s gaps), int8/int32/int64 columns
  with negatives (FIXTURES F4).

One unit runs, per series: ``write_npb``; ``read_npb`` in full;
``read_npb(columns=, time_range=)``; ``TimeBoxTable.save``; ``load``
in full; ``load().between``; and the driver-side ``encode_timebox`` /
``decode_timebox`` single-process baseline. Every read is a scan
followed by an aggregate digest (row count, min/max ts, per-column
sums of the values quantized to their stored decimals), compared with
the digest computed from the generated pandas frame.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd

from perfbench.spans import timing_metrics

from timebox_spark.sources import npb
from timebox_spark.table import TimeBoxTable

# column -> stored decimals (None: integer column)
SERIES = {
    "ohlcv": {"open": 2, "high": 2, "low": 2, "close": 2, "volume": 6},
    "ints": {"i8": None, "i32": None, "i64": None},
}
NPB_KW = {
    "ohlcv": {
        "compress": {"open": "e", "high": "e", "low": "e", "close": "e", "volume": "m"},
        "decimals": SERIES["ohlcv"],
    },
    "ints": {"compress": {"i32": "e", "i64": "m"}},
}
SCAN_COLS = {"ohlcv": ["close", "volume"], "ints": ["i32"]}
_T0 = pd.Timestamp("2021-01-01")


def make_series(seed: int, n: int) -> dict[str, pd.DataFrame]:
    """The two series as pandas frames with a ``ts`` column."""
    rng = np.random.default_rng(seed + 104729)
    ts = _T0 + pd.to_timedelta(np.arange(n) * 60, unit="s")
    close = np.round(2000 + np.cumsum(rng.normal(0, 2, n)), 2)
    spread = np.round(np.abs(rng.normal(0, 1.5, (3, n))), 2)
    ohlcv = pd.DataFrame(
        {
            "ts": ts,
            "open": np.round(close + spread[0] - spread[1], 2),
            "high": np.round(close + spread[0] + spread[2], 2),
            "low": np.round(close - spread[1] - spread[2], 2),
            "close": close,
            "volume": np.round(rng.exponential(5.0, n), 6),
        }
    )
    gaps = rng.integers(1, 121, n)
    ints = pd.DataFrame(
        {
            "ts": _T0 + pd.to_timedelta(np.cumsum(gaps) - gaps[0], unit="s"),
            "i8": rng.integers(-128, 128, n).astype(np.int8),
            "i32": np.cumsum(rng.integers(-50, 51, n)).astype(np.int32),
            "i64": rng.integers(-(1 << 40), 1 << 40, n).astype(np.int64),
        }
    )
    return {"ohlcv": ohlcv, "ints": ints}


def write_inputs(out_dir: str, seed: int, n: int) -> dict[str, dict]:
    """Parquet copies of the series for Spark, plus the scan window
    and expected digests of every read variant."""
    os.makedirs(out_dir, exist_ok=True)
    out = {}
    for name, pdf in make_series(seed, n).items():
        pdf.to_parquet(f"{out_dir}/{name}.parquet", index=False, coerce_timestamps="us")
        lo = pdf.ts.iloc[len(pdf) // 3]
        hi = pdf.ts.iloc[len(pdf) // 3 + len(pdf) // 10]
        window = pdf[(pdf.ts >= lo) & (pdf.ts <= hi)]
        cols = SERIES[name]
        out[name] = {
            "rows": len(pdf),
            "window": (lo, hi),
            "full": pandas_digest(pdf, cols),
            "scan": pandas_digest(window, {c: cols[c] for c in SCAN_COLS[name]}),
            "between": pandas_digest(window, cols),
        }
    return out


def _quantized(values: np.ndarray, decimals: int | None) -> int:
    if decimals is None:
        return int(values.astype(np.int64).sum())
    return int(np.round(values.astype(np.float64) * 10**decimals).astype(np.int64).sum())


def pandas_digest(pdf: pd.DataFrame, cols: dict) -> dict:
    ts = pd.Series(pdf.ts.to_numpy().astype("datetime64[s]").astype(np.int64))
    return {
        "n": len(pdf),
        "ts": (int(ts.min()), int(ts.max())) if len(pdf) else None,
        **{c: _quantized(pdf[c].to_numpy(), d) for c, d in cols.items()},
    }


def spark_digest(df, cols: dict, scanned: list | None = None) -> dict:
    """Scan ``df`` once and return its digest; appends the rows its
    parquet scans surfaced to ``scanned`` when given."""
    from pyspark.sql import functions as F

    exprs = [
        F.count(F.lit(1)).alias("n"),
        F.min(F.unix_seconds("ts")).alias("lo"),
        F.max(F.unix_seconds("ts")).alias("hi"),
    ]
    for c, d in cols.items():
        v = F.col(c).cast("long") if d is None else F.round(F.col(c) * 10**d).cast("long")
        exprs.append(F.sum(v).alias(c))
    agg = df.agg(*exprs)
    row = agg.collect()[0]
    if scanned is not None:
        scanned.append(_scan_output_rows(agg))
    return {
        "n": row["n"],
        "ts": (row["lo"], row["hi"]) if row["n"] else None,
        **{c: int(row[c] or 0) for c in cols},
    }


def _scan_output_rows(df) -> int:
    """Rows the parquet scans of ``df``'s executed plan surfaced (after
    row-group skipping)."""
    stack = [df._jdf.queryExecution().executedPlan()]
    rows = 0
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if kind == "FileSourceScanExec":
            rows += int(node.metrics().apply("numOutputRows").value())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return rows


def _dir_stats(path: str, suffix: str) -> tuple[int, int]:
    files = [f for f in os.listdir(path) if f.endswith(suffix)]
    return len(files), sum(os.path.getsize(os.path.join(path, f)) for f in files)


class TimeboxStore:
    """Same interface as ``query_mix.QueryMix``."""

    def __init__(self, spark, tracer, data: str, prep: dict, corrupt: bool = False):
        self.spark = spark
        self.tracer = tracer
        self.data = data
        self.prep = prep
        self.corrupt = corrupt  # smoke mode: delete an npb file before reading
        self.units_done: list[dict] = []
        self.attempted = 0
        self.failures: list[str] = []

    @staticmethod
    def prepare(data: str, seed: int, scale: dict) -> dict:
        return write_inputs(data, seed, scale["rows"])

    def _op(self, unit: dict, span: str, fn, want=None):
        """Run one operation; check its result against ``want``."""
        if unit["measured"]:
            self.attempted += 1
        try:
            with self.tracer.span(span, unit["measured"]) as s:
                got = fn()
        except Exception as exc:  # a failed operation is counted, not fatal
            if not unit["measured"]:
                raise
            self.failures.append(f"{span}: {type(exc).__name__}: {exc}"[:300])
            return None
        unit["ops"].append({**s, "op": f"{unit['series']}:{span}"})
        if want is not None and got != want and unit["measured"]:
            self.failures.append(f"{span}: {got} != {want}")
        return got

    def run_unit(self, measured: bool = True) -> dict:
        """Every operation once on each series."""
        unit: dict = {"ops": [], "between_scanned": [], "npb": {}, "measured": measured}
        work = f"{self.data}/out"
        t0 = time.perf_counter()
        try:
            for name, cols in SERIES.items():
                unit["series"] = name
                exp = self.prep[name]
                src = self.spark.read.parquet(f"{self.data}/{name}.parquet")
                pdf = pd.read_parquet(f"{self.data}/{name}.parquet").set_index("ts")
                npb_dir, tb_dir = f"{work}/{name}.npb", f"{work}/{name}.tb"
                kw = NPB_KW[name]
                raw = self._op(unit, "npb.encode", lambda: npb.encode_timebox(pdf, **kw))
                if raw is not None:
                    self._op(
                        unit, "npb.decode",
                        lambda: pandas_digest(npb.decode_timebox(raw).reset_index(), cols),
                        exp["full"],
                    )
                self._op(unit, "npb.write", lambda: npb.write_npb(src, npb_dir, **kw))
                if self.corrupt and unit["measured"]:
                    os.remove(os.path.join(npb_dir, sorted(os.listdir(npb_dir))[0]))
                glob = f"{npb_dir}/*.npb"
                self._op(
                    unit, "npb.read",
                    lambda: spark_digest(npb.read_npb(self.spark, glob), cols),
                    exp["full"],
                )
                scan_cols = {c: cols[c] for c in SCAN_COLS[name]}
                self._op(
                    unit, "npb.scan",
                    lambda: spark_digest(
                        npb.read_npb(self.spark, glob, columns=list(scan_cols),
                                     time_range=exp["window"]),
                        scan_cols,
                    ),
                    exp["scan"],
                )
                unit["npb"][name] = _dir_stats(npb_dir, ".npb")
                self._op(unit, "table.save", lambda: TimeBoxTable(src).save(tb_dir))
                self._op(
                    unit, "table.load",
                    lambda: spark_digest(TimeBoxTable.load(self.spark, tb_dir).df, cols),
                    exp["full"],
                )
                # a UTC-aware literal: a naive one would take the local zone
                lo, hi = (t.tz_localize("UTC").to_pydatetime() for t in exp["window"])
                scanned: list[int] = []
                got = self._op(
                    unit, "table.between",
                    lambda: spark_digest(
                        TimeBoxTable.load(self.spark, tb_dir).between(lo, hi).df,
                        cols, scanned,
                    ),
                    exp["between"],
                )
                if got and got["n"] and scanned:
                    unit["between_scanned"].append(scanned[0] / got["n"])
        finally:
            shutil.rmtree(work, ignore_errors=True)
        unit["s"] = time.perf_counter() - t0
        return unit

    def cleanup(self) -> None:
        """Every unit removes its own output."""

    def warm(self) -> None:
        """The operations' first executions (codegen, JIT, Python
        workers) happen here."""
        self.run_unit(measured=False)

    def measure(self, seconds: float) -> None:
        t_end = time.perf_counter() + seconds
        while not self.units_done or time.perf_counter() < t_end:
            self.units_done.append(self.run_unit())

    @property
    def failed(self) -> int:
        return len(self.failures)

    @property
    def units(self) -> int:
        return len(self.units_done)

    def report(self) -> tuple[dict, dict, dict]:
        units = self.units_done
        rows = sum(e["rows"] for e in self.prep.values())
        ops: dict[str, list[dict]] = {}
        for u in units:
            for op in u["ops"]:
                ops.setdefault(op["op"], []).append(op)
        npb_files = [sum(f for f, _b in u["npb"].values()) for u in units]
        npb_bytes = [sum(b for _f, b in u["npb"].values()) for u in units]
        e2e, layer = timing_metrics(ops)
        e2e["stored_bytes_per_row"] = statistics.median(npb_bytes) / rows
        detail = {
            "units_s": [u["s"] for u in units],
            "ops": {k: [(round(r["s"], 3), round(r["cpu"], 2)) for r in v] for k, v in ops.items()},
            "failures": self.failures,
        }
        if self.tracer.enabled:
            for span in ("encode", "decode", "write", "read", "scan"):
                layer[f"npb.{span}_s"] = self._per_unit(f"npb.{span}", "s")
            layer["npb.write_jobs"] = self._per_unit("npb.write", "jobs")
            layer["npb.files"] = statistics.median(npb_files)
            layer["npb.bytes"] = statistics.median(npb_bytes)
            for span in ("save", "load", "between"):
                layer[f"table.{span}_s"] = self._per_unit(f"table.{span}", "s")
            layer["table.between_rows_scanned"] = statistics.median(
                x for u in units for x in u["between_scanned"]
            )
        return e2e, layer, detail

    def _per_unit(self, span: str, field: str) -> float:
        """Median over units of the summed ``field`` of ``span``."""
        return statistics.median(
            sum(op[field] for op in u["ops"] if op["name"] == span) for u in self.units_done
        )
