"""The benchmark's own tests:  python -m pytest perfbench -q

- the generator gives the same bytes for a seed and other bytes for
  another seed;
- an operation that raises is counted as attempted and failed;
- the independent frame checks agree with textbook definitions;
- a tiny run of each workload prints every metric of BENCHMARK.json with
  its unit (end-to-end, and per-layer with tracing on);
- without the program next to it the benchmark exits non-zero and prints
  no result.
"""

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _inputs(tmp_path, seed, name):
    d = str(tmp_path / name)
    gen.write_tables(os.path.join(d, "data"), seed, gen.SIZES["tiny"])
    gen.write_videos(os.path.join(d, "videos"), gen.video_specs(seed, gen.SIZES["tiny"]))
    return gen.digest(d)


def test_generator_is_deterministic_per_seed(tmp_path):
    a, b, c = _inputs(tmp_path, 5, "a"), _inputs(tmp_path, 5, "b"), _inputs(tmp_path, 6, "c")
    assert a == b
    assert a != c


def test_planted_groups_are_exact_copies(tmp_path):
    import pyarrow.parquet as pq

    d = str(tmp_path)
    planted = gen.write_tables(d, 3, gen.SIZES["tiny"], ["documents", "embeddings"])
    docs = pq.read_table(f"{d}/documents.parquet").column("text").to_pylist()
    vecs = pq.read_table(f"{d}/embeddings.parquet").column("embedding").to_pylist()
    assert planted["documents"] and planted["embeddings"]
    for g in planted["documents"]:
        assert len({docs[i] for i in g}) == 1
    for g in planted["embeddings"]:
        assert len({tuple(vecs[i]) for i in g}) == 1


class _NoSpark:
    spark = None

    @staticmethod
    def span(name, **attrs):
        import contextlib

        return contextlib.nullcontext()


def test_failing_operation_is_counted_not_dropped():
    def ok():
        return 1

    def boom():
        raise RuntimeError("forced failure")

    records, keep = [], {}
    for p in range(3):
        run.run_pass([("a", ok), ("b", boom), ("c", ok)], p, _NoSpark(), records, keep)
    assert len(records) == 9
    assert sum(not r["ok"] for r in records) == 3
    assert [r["op"] for r in records if not r["ok"]] == ["b", "b", "b"]
    assert sorted(keep) == ["a", "c"]


def test_frame_checks_match_definitions():
    rng = np.random.default_rng(0)
    img = rng.integers(0, 256, (7, 9, 3), dtype=np.uint8)
    for c in range(3):
        assert checks.histogram(img)[c] == np.histogram(img[:, :, c], bins=16, range=(0, 256))[0].tolist()
    # blur at an interior pixel and at a corner, written out by hand
    w = np.array([[1, 2, 1], [2, 4, 2], [1, 2, 1]])
    out = checks.blur3(img)
    ch = img[:, :, 0].astype(int)
    assert out[3, 4, 0] == (int((w * ch[2:5, 3:6]).sum()) + 8) // 16
    corner = ch[[1, 0, 1]][:, [1, 0, 1]]  # reflect-101: index -1 -> 1
    assert out[0, 0, 0] == (int((w * corner).sum()) + 8) // 16
    assert checks.psnr(img, img) == float("inf")


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_prints_every_metric(workload, trace):
    cmd = BENCH["command"] + ["--workload", workload, "--seed", "3", "--seconds", "1",
                              "--trace", str(trace), "--size", "tiny", "--check-only"]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = BENCH["per_layer" if trace else "end_to_end"]
    assert {m: v["unit"] for m, v in res["metrics"].items()} == {m["name"]: m["unit"] for m in want}
    assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    cmd = BENCH["command"] + ["--workload", BENCH["workloads"][0]["name"], "--seed", "1",
                              "--seconds", "1", "--trace", "0"]
    proc = subprocess.run(cmd, cwd=tmp_path, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=180)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
