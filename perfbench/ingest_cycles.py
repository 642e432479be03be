"""``ingest_cycles``: the disk-state ingest loop, one closed-loop client.

One seed cycle into an empty store, then three steady cycles of
``run_ingest_cycle`` with every feature on (near-dup index, exact and
band-key Bloom sketches, count-min stats with a cap, consolidation
every 2 cycles). Each steady batch holds a fresh slice of base
documents plus exact and near copies of seed documents that the seed
picks. Base documents are random texts over a large vocabulary, so
none is a near duplicate of another: the correct store keeps exactly
the base documents and drops every planted copy.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import tempfile
import time

import numpy as np
import pandas as pd
import pyarrow.dataset as ds

from perfbench import gen
from perfbench.spans import timing_metrics
from timebox_spark.streaming import ingest as ING

N_CYCLES = 3
SLICES = N_CYCLES + 1
# the production loop's settings (bench.py ingest_loop block), passed
# as arguments only
CYCLE_KW = dict(
    near_dup=True,
    threshold=0.35,
    bloom_m=1 << 24,
    band_bloom_m=1 << 26,
    cms_col="source",
    cap_max=100_000,
    consolidate_every=2,
    keep="chain",
)
TREES = ("corpus", "fps", "index", "bloom", "bloom_band", "cms")


def write_batches(out_dir: str, seed: int, n_docs: int) -> dict:
    """Seed batch plus ``N_CYCLES`` steady batches as parquet files;
    returns the per-cycle expected kept counts and base ids."""
    rng = np.random.default_rng(seed + 7919)
    base = pd.DataFrame(
        gen.documents(rng, n_docs, gen.vocabulary(rng), min_words=40)
    )[["doc_id", "text", "source"]]
    os.makedirs(out_dir, exist_ok=True)
    seed_docs = base[base.doc_id % SLICES == 0]
    n_plant = max(1, len(seed_docs) // 20)
    expected = {"kept": [len(seed_docs)], "ids": sorted(base.doc_id.tolist())}
    seed_docs.to_parquet(f"{out_dir}/batch0.parquet", index=False)
    for i in range(1, N_CYCLES + 1):
        picks = rng.choice(len(seed_docs), 2 * n_plant, replace=False)
        exact = seed_docs.iloc[picks[:n_plant]].assign(
            doc_id=lambda d: d.doc_id + 1_000_000 * i
        )
        near = seed_docs.iloc[picks[n_plant:]].assign(
            doc_id=lambda d: d.doc_id + 2_000_000 * i,
            text=lambda d: d.text + f" bench loop near {i}",
        )
        fresh = base[base.doc_id % SLICES == i]
        pd.concat([fresh, exact, near]).to_parquet(
            f"{out_dir}/batch{i}.parquet", index=False
        )
        expected["kept"].append(len(fresh))
    return expected


def _tree_stats(path: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(root, f))
    return n_bytes, n_files


class IngestCycles:
    """Same interface as ``query_mix.QueryMix``."""

    def __init__(self, spark, tracer, data: str, prep: dict, corrupt: bool = False):
        self.spark = spark
        self.tracer = tracer
        self.data = data
        self.expected = prep["expected"]
        self.corrupt = corrupt  # smoke mode: delete a corpus file before checking
        self.runs: list[dict] = []
        self.attempted = 0
        self.failures: list[str] = []

    @staticmethod
    def prepare(data: str, seed: int, scale: dict) -> dict:
        write_batches(f"{data}/warm", seed, scale["warm_docs"])
        return {"expected": write_batches(f"{data}/sf", seed, scale["docs"])}

    def run_once(self, batches: str, n_cycles: int = N_CYCLES, measured: bool = True) -> dict:
        """Seed cycle plus ``n_cycles`` steady cycles on a fresh store."""
        work = tempfile.mkdtemp(prefix="perfbench_ingest_")
        store = f"{work}/store"
        rec: dict = {"cycles": []}
        try:
            for i in range(n_cycles + 1):
                b = self.spark.read.parquet(f"{batches}/batch{i}.parquet")
                name = "ingest.seed" if i == 0 else f"ingest.cycle{i}"
                with self.tracer.span(name, measured) as s:
                    kept = ING.run_ingest_cycle(b, store, i, **CYCLE_KW)
                rec["cycles"].append({**s, "kept": kept})
            if measured:
                rec["trees"] = {t: _tree_stats(f"{store}/{t}") for t in TREES}
                rec["store_bytes"] = _tree_stats(store)[0]
                if self.corrupt:
                    victim = next(
                        os.path.join(r, f)
                        for r, _d, fs in os.walk(f"{store}/corpus")
                        for f in fs
                        if f.endswith(".parquet")
                    )
                    os.remove(victim)
                ids = ds.dataset(f"{store}/corpus", partitioning="hive").to_table(
                    columns=["doc_id"]
                )["doc_id"].to_pylist()
                rec["kept_ids"] = sorted(ids)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        return rec

    def cleanup(self) -> None:
        """Every unit removes its own output."""

    def warm(self) -> None:
        """Seed plus one steady cycle on the small batches."""
        self.run_once(f"{self.data}/warm", n_cycles=1, measured=False)

    def check(self, rec: dict) -> list[str]:
        """Per-cycle kept counts and the sorted kept-id digest."""
        bad = []
        kept = [c["kept"] for c in rec["cycles"]]
        if kept != self.expected["kept"]:
            bad.append(f"kept per cycle {kept} != {self.expected['kept']}")
        got, want = (
            hashlib.sha256(np.asarray(v, np.int64).tobytes()).hexdigest()[:16]
            for v in (rec["kept_ids"], self.expected["ids"])
        )
        if got != want:
            bad.append(f"kept-id digest {got} != {want} ({len(rec['kept_ids'])} ids)")
        return bad

    def measure(self, seconds: float) -> None:
        t_end = time.perf_counter() + seconds
        while not self.runs or time.perf_counter() < t_end:
            self.attempted += N_CYCLES + 1
            try:
                rec = self.run_once(f"{self.data}/sf")
            except Exception as exc:  # a failed run is counted, not fatal
                self.failures.append(f"{type(exc).__name__}: {exc}"[:300])
                self.runs.append({"failed": True})
                continue
            bad = self.check(rec)
            rec["failed"] = bool(bad)
            self.failures.extend(bad)
            self.runs.append(rec)

    @property
    def failed(self) -> int:
        return sum(N_CYCLES + 1 for r in self.runs if r["failed"])

    @property
    def units(self) -> int:
        return len(self.runs)

    def report(self) -> tuple[dict, dict, dict]:
        ok = [r for r in self.runs if "cycles" in r]
        if not ok:
            raise RuntimeError(f"every ingest run raised: {self.failures}")
        e2e, layer = timing_metrics(
            {f"cycle{i}": [r["cycles"][i] for r in ok] for i in range(1, N_CYCLES + 1)}
        )
        e2e["stored_bytes_per_row"] = statistics.median(
            r["store_bytes"] / len(r["kept_ids"]) for r in ok
        )
        detail = {
            "cycles": [[(c["s"], c["kept"], c.get("jobs")) for c in r["cycles"]] for r in ok],
            "failures": self.failures,
        }
        if self.tracer.enabled:
            for i in range(N_CYCLES + 1):
                name = "ingest.seed_" if i == 0 else f"ingest.cycle{i}."
                for stat in ("s", "jobs"):
                    layer[name + stat] = statistics.median(r["cycles"][i][stat] for r in ok)
            layer["ingest.kept_rows"] = statistics.median(len(r["kept_ids"]) for r in ok)
            for t in TREES:
                for j, stat in enumerate(("bytes", "files")):
                    layer[f"ingest.tree.{t}.{stat}"] = statistics.median(
                        r["trees"][t][j] for r in ok
                    )
        return e2e, layer, detail
