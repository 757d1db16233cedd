"""The plan-identity check as a command: `tools/capture_plans.py
compare` must call every committed before/after capture identical
modulo instance counters and tmp paths, and must still see a real
operator change."""

from __future__ import annotations

import importlib.util
import os
import re
import shutil

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PLAN_DIRS = [os.path.join(ROOT, "plans", r) for r in ("r14", "r15")]


def _capture_plans():
    spec = importlib.util.spec_from_file_location(
        "capture_plans", os.path.join(ROOT, "tools", "capture_plans.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("plan_dir", PLAN_DIRS, ids=os.path.basename)
def test_committed_plan_pairs_compare_identical(plan_dir):
    result = _capture_plans().compare_dirs(plan_dir)
    assert result, f"no capture pairs in {plan_dir}"
    assert {qid: diff for qid, diff in result.items() if diff != []} == {}


def test_changed_operator_compares_different(tmp_path):
    cp = _capture_plans()
    src = PLAN_DIRS[0]
    qid = next(
        name[: -len("_after.txt")]
        for name in sorted(os.listdir(src))
        if name.endswith("_after.txt")
        and "BroadcastHashJoin" in open(os.path.join(src, name)).read()
    )
    shutil.copy(os.path.join(src, f"{qid}_before.txt"), tmp_path)
    with open(os.path.join(src, f"{qid}_after.txt")) as fh:
        after = fh.read().replace("BroadcastHashJoin", "SortMergeJoin", 1)
    (tmp_path / f"{qid}_after.txt").write_text(after)
    diff = cp.compare_dirs(str(tmp_path))[qid]
    assert any("SortMergeJoin" in line for line in diff)
    assert cp.compare_main(str(tmp_path)) == 1


def _lambda_pair(tmp_path, edit):
    """A committed capture with HOF lambdas as `before`, and `edit` of it
    with every lambda variable renumbered (as a second JVM session
    numbers them) as `after`; returns (module, qid)."""
    cp = _capture_plans()
    src = PLAN_DIRS[0]
    qid = next(
        name[: -len("_before.txt")]
        for name in sorted(os.listdir(src))
        if name.endswith("_before.txt")
        and "lambda y_" in open(os.path.join(src, name)).read()
    )
    shutil.copy(os.path.join(src, f"{qid}_before.txt"), tmp_path)
    with open(os.path.join(src, f"{qid}_before.txt")) as fh:
        before = fh.read()
    after = re.sub(
        r"lambda ([xyz])_(\d+)",
        lambda m: f"lambda {m.group(1)}_{int(m.group(2)) + 8}",
        edit(before),
    )
    assert after != before
    (tmp_path / f"{qid}_after.txt").write_text(after)
    return cp, qid


def test_lambda_counters_compare_identical(tmp_path):
    cp, qid = _lambda_pair(tmp_path, lambda text: text)
    assert cp.compare_dirs(str(tmp_path))[qid] == []
    assert cp.compare_main(str(tmp_path)) == 0


def test_changed_lambda_body_compares_different(tmp_path):
    body = re.compile(r"\((lambda x_\d+#\d+L?) \* (lambda y_\d+#\d+L?)\)")
    cp, qid = _lambda_pair(tmp_path, lambda text: body.sub(r"(\1 + \2)", text, 1))
    diff = cp.compare_dirs(str(tmp_path))[qid]
    assert any(line.startswith("+") and " + lambda y_N" in line for line in diff)
    assert cp.compare_main(str(tmp_path)) == 1


def test_checkpoint_call_sites_compare_identical(tmp_path):
    """Spark records a `localCheckpoint` RDD's call site by where in the
    session the id ran (`<unknown>:0` or `NativeMethodAccessorImpl.java:0`):
    the same plan must compare identical either way."""
    cp = _capture_plans()
    src = PLAN_DIRS[0]
    site = "at localCheckpoint at <unknown>:0"
    qid = next(
        name[: -len("_before.txt")]
        for name in sorted(os.listdir(src))
        if name.endswith("_before.txt")
        and site in open(os.path.join(src, name)).read()
    )
    shutil.copy(os.path.join(src, f"{qid}_before.txt"), tmp_path)
    with open(os.path.join(src, f"{qid}_before.txt")) as fh:
        after = fh.read().replace(
            site, "at localCheckpoint at NativeMethodAccessorImpl.java:0"
        )
    (tmp_path / f"{qid}_after.txt").write_text(after)
    assert cp.compare_dirs(str(tmp_path))[qid] == []
    assert cp.compare_main(str(tmp_path)) == 0
