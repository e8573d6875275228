"""Tests of the benchmark itself; none of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys
import zlib
from collections import namedtuple
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import inputs, workloads  # noqa: E402


def _files(root: Path) -> dict[str, bytes]:
    return {str(p.relative_to(root)): p.read_bytes()
            for p in sorted(root.rglob("*")) if p.is_file()}


def _generate(root: Path, seed: int) -> None:
    inputs.capture_backlogs(str(root / "cap"), seed, n_msgs=3000)
    inputs.curation_corpus(str(root / "cur"), seed, n_orig=200)
    inputs.stream_files(str(root / "stream"), seed, n_files=4, rows=200)
    inputs.serve_inputs(str(root / "serve"), seed, n_base=500, n_growth=2, n_docs=300)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    _generate(tmp_path / "a", 7)
    _generate(tmp_path / "b", 7)
    _generate(tmp_path / "c", 8)
    a, b, c = (_files(tmp_path / x) for x in "abc")
    assert a and a == b
    assert a.keys() == c.keys() and a != c


def _stream_leg(tmp_path, n_files=3):
    leg = workloads.StreamIngest(None, str(tmp_path), 1)
    leg.files = inputs.stream_files(str(tmp_path / "in"), 1, n_files=n_files, rows=200)
    leg.out_dir = str(tmp_path / "sink")
    leg.seen, leg.expected = set(), set()
    leg.FILES_PER_DRAIN = n_files
    return leg


def _write_sink(leg, drop_one: bool):
    """What a correct sink holds: each id once, in the batch of the file
    that first carried it."""
    first = set()
    progress = []
    for bid, ids in enumerate(leg.files.ids):
        new = [int(x) for x in ids if int(x) not in first]
        first.update(new)
        new = list(dict.fromkeys(new))
        if drop_one and bid == 1:
            new = new[1:]
        part = Path(leg.out_dir) / f"batch_id={bid}"
        part.mkdir(parents=True)
        pq.write_table(pa.table({"event_id": pa.array(new, pa.int64())}),
                       part / "part-0.parquet")
        leg.expected.update(int(x) for x in ids)
        progress.append({"batchId": bid, "numInputRows": len(ids),
                         "durationMs": {"triggerExecution": 10}})
    return workloads.LegResult(rates={}, out=progress)


@pytest.mark.parametrize("drop_one", [False, True])
def test_stream_checker_flags_one_dropped_row(tmp_path, drop_one):
    leg = _stream_leg(tmp_path)
    assert leg.check(_write_sink(leg, drop_one)) is (not drop_one)


Row = namedtuple("Row", "q_id neighbor_id rk")
Hit = namedtuple("Hit", "query_id doc_id rk")


@pytest.mark.parametrize("drop_one", [False, True])
def test_serve_checker_flags_one_dropped_row(tmp_path, drop_one):
    leg = workloads.IndexServe(None, str(tmp_path), 1)
    leg.inp = inputs.serve_inputs(str(tmp_path / "in"), 1, n_base=500, n_growth=1, n_docs=300)
    pick = np.arange(leg.BATCH)
    exact = inputs.exact_topk(leg.inp.base, leg.inp.queries[pick], leg.K)
    dense = [Row(int(j), int(n), rk + 1) for j, row in zip(pick, exact)
             for rk, n in enumerate(row)]
    bm25 = [Hit(int(j), leg.inp.text_queries[j][0], 1) for j in pick]
    if drop_one:
        dense = dense[1:]
    res = workloads.LegResult(rates={}, out=(pick, dense, bm25, exact, len(leg.inp.base)))
    assert leg.check(res) is (not drop_one)


@pytest.mark.parametrize("drop_one", [False, True])
def test_capture_checker_flags_one_dropped_row(tmp_path, drop_one):
    leg = workloads.CaptureReplay(None, str(tmp_path), 1)
    leg.N_PUBLISH = 50
    leg.publish_crc = inputs.emailsend_event_crc(50)
    b = inputs.capture_backlogs(str(tmp_path / "in"), 1, n_backlogs=1, n_msgs=2000)[0]
    table = pq.read_table(b.path)
    # a replay digest computed from the input the way a correct capture does
    rep = {"n": b.captured, "payload_crc": b.payload_crc, "topic_crc": b.topic_crc}
    if drop_one:
        dropped = table["raw"][0].as_py()
        rep = {"n": b.captured - 1, "payload_crc": b.payload_crc - zlib.crc32(dropped),
               "topic_crc": b.topic_crc}
    pub = {"n": 50, "crc": leg.publish_crc}
    assert leg.check(workloads.LegResult(rates={}, out=(b, rep, pub))) is (not drop_one)


def _run_module():
    spec = importlib.util.spec_from_file_location("perfbench_run", ROOT / "perfbench" / "run.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_every_printed_metric_is_declared_in_benchmark_json():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    run = _run_module()
    declared_e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert run.END_TO_END == declared_e2e
    assert run.per_layer_units() == declared_layer
    assert set(bench["workloads"][i]["name"] for i in range(len(bench["workloads"]))) \
        == set(workloads.WORKLOADS)
    assert os.path.basename(bench["command"][-1]) == "run.py"
