"""Self-tests of the benchmark harness (small inputs, one Spark session).

Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, REPO)

from perfbench import run  # noqa: E402
from perfbench.inputs import Sizes, base_dir, make_inputs  # noqa: E402
from perfbench.recorder import Recorder  # noqa: E402
from perfbench.workloads import WORKLOADS, Context, run_pass  # noqa: E402

SMALL = Sizes(customers=400, parts=600, oracle_pages=100, corpus=300, queries=20)
WORK = os.path.join(run.WORK, f"selftest-{os.getpid()}")


@pytest.fixture(scope="module")
def spark():
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    s = run.start_session(2, 1024, os.path.join(WORK, "logs", "jvm.log"))
    yield s
    run.stop_session(s)
    shutil.rmtree(WORK, ignore_errors=True)


def _ctx(spark, workload: str, seed: int, expected: dict | None = None) -> Context:
    inputs = make_inputs(spark, WORK, seed, SMALL)
    out = os.path.join(WORK, "out", f"{workload}-{seed}")
    return Context(spark, WORKLOADS[workload], inputs, SMALL, out, Recorder(spark, expected))


def _tree_digest(path: str) -> str:
    h = hashlib.sha256()
    for root, _, names in sorted(os.walk(path)):
        for n in sorted(names):
            with open(os.path.join(root, n), "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _shape(ctx: Context) -> list[tuple[str, int | None]]:
    return [(c.key, c.rows) for c in ctx.rec.calls]


def test_benchmark_json_lists_what_run_prints():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    layers = {m["name"].split(".")[0] for m in spec["per_layer"]}
    for w in WORKLOADS.values():
        assert set(w.layers) <= layers


def test_new_seed_changes_bytes_not_counts_or_shape(spark):
    a, b = _ctx(spark, "conflate_country", 11), _ctx(spark, "conflate_country", 12)
    assert _tree_digest(a.inputs.pages) != _tree_digest(b.inputs.pages)
    assert _tree_digest(a.inputs.corpus) != _tree_digest(b.inputs.corpus)
    assert (a.inputs.pages_rows, a.inputs.hu_pages) == (b.inputs.pages_rows, b.inputs.hu_pages)
    checks = []
    for ctx in (a, b):
        assert run_pass(ctx, 0, traced=False, keep=True)["ok"]
        checks.append(run.check_reference(ctx, base_dir(WORK, SMALL), 2))
    assert _shape(a) == _shape(b)
    assert [c.checksum for c in a.rec.calls] != [c.checksum for c in b.rec.calls]
    # the oracle, tiling and lineage checks pass, and replica 0 digests the
    # same for every seed, which is what lets expected.json be committed
    assert all(c.ok for ctx in (a, b) for c in ctx.rec.calls)
    assert checks[0]["digests"] == checks[1]["digests"]
    run.check_digests(b.rec, checks[1]["digests"], checks[0]["digests"])
    assert all(c.ok for c in b.rec.calls)
    tampered = dict(checks[0]["digests"], **{"match.match_pages": [0, "0"]})
    run.check_digests(b.rec, checks[1]["digests"], tampered)
    assert [c.key for c in b.rec.calls if not c.ok] == ["check.expected_match.match_pages"]


def test_traced_and_untraced_passes_agree(spark):
    ctx = _ctx(spark, "ann_ivf", 13)
    assert run_pass(ctx, 0, traced=False, keep=True)["ok"]
    traced = run_pass(ctx, 1, traced=True)
    assert traced["ok"], traced
    plain = [(c.key, c.rows, c.checksum) for c in ctx.rec.pass_calls(0)]
    spans = [(c.key, c.rows, c.checksum) for c in ctx.rec.pass_calls(1)]
    assert plain == spans
    assert all(c.ok for c in ctx.rec.calls)
    assert all(c.counters.get("jobs", 0) > 0 for c in ctx.rec.pass_calls(1))
    checks = run.check_reference(ctx, "", 2)
    assert not [c for c in ctx.rec.calls if not c.ok]
    assert 0.0 < checks["recall_at_5"] <= 1.0


def test_wrong_expected_checksum_counts_as_failed(spark):
    good = _ctx(spark, "conflate_country", 14)
    assert run_pass(good, 0, traced=False)["ok"]
    rows, checksum = good.rec.expected["match.match_pages"]
    wrong = dict(good.rec.expected)
    wrong["match.match_pages"] = (rows, str(int(checksum) + 1))
    bad = _ctx(spark, "conflate_country", 14, expected=wrong)
    assert not run_pass(bad, 0, traced=False)["ok"]
    failed = sum(not c.ok for c in bad.rec.calls)
    assert failed / len(bad.rec.calls) > 0
