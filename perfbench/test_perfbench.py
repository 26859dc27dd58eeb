"""Self-tests of the lake benchmark.

    python3 -m pytest perfbench/test_perfbench.py -q

The generator and helper tests take a second; the last one runs a
whole short benchmark run (about a minute).
"""

from __future__ import annotations

import base64
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import lakegen  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


def _batches(seed: int):
    gen = lakegen.WireGenerator(seed)
    return [gen.batch(b, 300) for b in range(3)]


def test_wire_generator_is_deterministic_per_seed():
    a, b = _batches(5), _batches(5)
    for x, y in zip(a, b):
        assert (x.ids, x.payloads, x.claims, x.legs, x.expected) == (
            y.ids, y.payloads, y.claims, y.legs, y.expected
        )
        assert x.table().equals(y.table())
    c = _batches(6)
    assert [x.payloads for x in a] != [x.payloads for x in c]


def test_wire_legs_are_exact():
    batches = _batches(7)
    seen = set()
    for batch in batches:
        e = batch.expected
        assert sum(e[k] for k in checks.LEG_KEYS) == e["generated"] == 300
        assert min(e["staged"], e["error"], e["authz_rejected"]) > 0
        assert (e["dedup_rejected"] > 0) == (batch.index > 0)
        for payload, claim, leg in zip(batch.payloads, batch.claims, batch.legs):
            digest = lakegen.sha256_hex(payload)
            if leg == "resend":
                assert digest in seen and claim
            else:
                assert digest not in seen  # unique content
            if leg == "noclaim":
                assert claim is None
            if leg in ("good", "junk"):
                seen.add(digest)
        wire = batch.table().to_pylist()
        assert base64.b64decode(wire[0]["msg_b64"]).decode() == batch.payloads[0]


def test_golden_templates_span_the_corpus():
    sizes = sorted(len(m.encode()) for m in lakegen.golden_messages())
    assert len(sizes) == 11 and sizes[0] == 336 and sizes[-1] > 7000


def test_tail_rule():
    assert workloads.tail(list(range(1, 41))) == (30, 75)
    assert workloads.tail([1.0, 2.0, 3.0]) == (3.0, 100)


def test_metric_parsing_and_intervals():
    assert tracing.parse_metric("1,234") == 1234
    assert tracing.parse_metric(
        "total (min, med, max (stageId: taskId))\n2.5 s (0 ms, 1 ms, 2 ms (stage 1.0: task 2))"
    ) == 2.5
    assert tracing.parse_metric("10.0 KiB") == 10240
    assert tracing.union_ms([(0, 10), (5, 20), (30, 40)], 0, 35) == 25


def test_command_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "analytics",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0 and proc.stdout == ""


def test_check_rejects_a_lake_missing_one_staged_row():
    """A whole short run whose lake loses one staged row before the
    final checks: the leg-count check, and no other, must fail, and
    the command must exit 1."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest_incremental",
         "--seed", "1", "--seconds", "1", "--trace", "0", "--corrupt-staged-row"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 1
    *_, record, result = proc.stdout.strip().splitlines()
    result, record = json.loads(result), json.loads(record)
    assert result["correct"] is False and result["failed"] == 1
    counts = record["counts"]
    assert record["failures"] == [
        f"staged: lake has {counts['staged']}, generator made {counts['staged'] + 1}"
    ]
