"""Self-test of the benchmark's output checks: each check passes the correct
answer and counts a planted wrong value.  Needs no Spark session.

    python3 perfbench/selftest.py

Exits 0 when every planted error is caught, 1 otherwise.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
import pyarrow as pa  # noqa: E402

from perfbench import workloads as W  # noqa: E402
from perfbench.run import Loop  # noqa: E402
from perfbench.telemetry import ProcTree  # noqa: E402


def tile_result(counts, sums) -> pa.Table:
    """The rollup the engine returns, rebuilt from dense reference arrays."""
    idx = np.flatnonzero(counts)
    tile_id = (np.int64(6) << 58) | ((idx // 128) << 29) | (idx % 128)
    return pa.table({"tile_id": tile_id, "n": counts[idx], "sum_tec": sums[idx]})


def tile_cases():
    counts, sums = W.tile_reference(3 * 200_000, 200_000)
    good = tile_result(counts, sums)

    def planted(col, k, delta):
        arr = good.column(col).to_numpy().copy()
        arr[k] += delta
        return good.set_column(good.schema.get_field_index(col), col, pa.array(arr))

    def check(t):
        return W.check_tiles(t.column("tile_id").to_numpy(), t.column("n").to_numpy(),
                             t.column("sum_tec").to_numpy(), counts, sums)

    yield "tile_assign correct", check(good), 0
    yield "tile_assign n+1 in one tile", check(planted("n", 5, 1)), 1
    within = 0.5 * W.SUM_TOL_PER_POINT * counts[counts > 0][7]
    yield "tile_assign sum inside budget", check(planted("sum_tec", 7, within)), 0
    yield "tile_assign sum +0.01 TECu", check(planted("sum_tec", 7, 0.01)), 1
    yield "tile_assign tile missing", check(good.slice(1)), 1


def image_cases():
    per_tile = pa.table({"n": np.array([300, 700], np.int64)})
    ok = {"rows": 50, "bad_payload": 0, "bad_caption": 0}
    yield "images_audit correct", W.check_images((per_tile, ok), 1000), 0
    yield "images_audit bad payload", W.check_images(
        (per_tile, dict(ok, bad_payload=1)), 1000), 1
    yield "images_audit row lost", W.check_images((per_tile, ok), 1001), 1
    yield "images_audit empty audit", W.check_images((per_tile, dict(ok, rows=0)), 1000), 1


def ingest_cases():
    expect = {"a.gz": (120, 4500), "b.gz": (119, 4400)}
    yield "ionex_ingest correct", W.check_ingest(dict(expect), expect), 0
    yield "ionex_ingest sum off by one", W.check_ingest(
        {**expect, "b.gz": (119, 4401)}, expect), 1
    yield "ionex_ingest extra file", W.check_ingest(
        {**expect, "c.gz": (1, 1)}, expect), 1
    yield "ionex_ingest file missing", W.check_ingest({"a.gz": (120, 4500)}, expect), 1


def oracle_cases():
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.1, 0.2, 0.3]})
    b = a.iloc[::-1].copy()
    yield "oracle compare correct (any order)", W.frame_mismatches(a, b), 0
    b.loc[b.k == 2, "v"] = np.nextafter(0.2, 1.0)
    yield "oracle compare one ulp", W.frame_mismatches(a, b), 1


class _Planted(W.Workload):
    """A workload whose job returns a tile rollup with one wrong count."""

    name = "planted"

    def __init__(self):
        self.counts, self.sums = W.tile_reference(0, 50_000)

    def job(self, spark):
        t = tile_result(self.counts, self.sums)
        n = t.column("n").to_numpy().copy()
        n[0] += 1
        return t.set_column(1, "n", pa.array(n))

    def check(self, spark, result):
        return W.check_tiles(result.column("tile_id").to_numpy(),
                             result.column("n").to_numpy(),
                             result.column("sum_tec").to_numpy(),
                             self.counts, self.sums), {}


class _NoSpark:
    class sparkContext:  # noqa: N801 - stands in for SparkSession.sparkContext
        @staticmethod
        def setJobDescription(_):
            pass


def loop_cases():
    loop = Loop(_Planted(), ProcTree())
    loop.one(_NoSpark())
    yield "closed loop counts the planted row", loop.mismatches, 1


def main() -> int:
    failures = 0
    for cases in (tile_cases, image_cases, ingest_cases, oracle_cases, loop_cases):
        for label, got, want in cases():
            ok = got == want
            failures += not ok
            print(f"{'ok  ' if ok else 'FAIL'} {label}: mismatches={got} expected={want}")
    print(f"{failures} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
