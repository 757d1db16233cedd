"""Capture `explain("formatted")` for registered queries (the judge's
plan evidence — plans/rNN/<query>_{before,after}.txt), and compare two
captures.

Usage:
  python tools/capture_plans.py <tag> <outdir> <id[,id...]> [repo_root]
  python tools/capture_plans.py compare <before_dir> [after_dir]

`repo_root` (default: this file's parent's parent) lets the same script
run from a detached worktree at the round-start commit for the
"before" captures.  Building a lifecycle query's DataFrame executes its
fixture jobs — captures are therefore run per id in ONE session, after
the bench warmup, so the plan reflects the bench path.

`compare` pairs every `<id>_before.txt` in `before_dir` with
`<id>_after.txt` in `after_dir` (default: the same dir), diffs them
after normalizing the per-instance counters (expression ids `#12L`,
`RDD[34]`, `plan_id=5`, the per-JVM numbering of higher-order-function
lambda variables `lambda x_175`), the call site Spark records for an
RDD (`MapPartitionsRDD[7] at localCheckpoint at <unknown>:0` in one
capture, `... at NativeMethodAccessorImpl.java:0` in another, by where
in the session the id ran) and `/tmp/...` paths, prints one line
per id (plus the diff when they differ) and exits 1 if any pair
differs or an after capture is missing.
"""

from __future__ import annotations

import contextlib
import difflib
import io
import os
import re
import sys

_COUNTERS = (
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"(RDD\[N\] at \w+) at [^\s,]+:\d+"), r"\1 at <call site>"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"lambda ([xyz])_\d+"), r"lambda \1_N"),
    (re.compile(r"/tmp/[^\s,\]]*"), "/tmp/..."),
)


def normalize_plan(text: str) -> str:
    """The plan text with its per-instance counters, RDD call sites and
    tmp paths replaced by fixed tokens: equal iff the plans are the same
    shape."""
    for pattern, token in _COUNTERS:
        text = pattern.sub(token, text)
    return text


def plan_diff(before: str, after: str) -> list[str]:
    """Unified diff of the normalized plans; empty iff identical."""
    return list(
        difflib.unified_diff(
            normalize_plan(before).splitlines(),
            normalize_plan(after).splitlines(),
            "before",
            "after",
            lineterm="",
        )
    )


def compare_dirs(before_dir: str, after_dir: str | None = None) -> dict:
    """{id: diff lines, or None when the after capture is missing} for
    every `<id>_before.txt` in `before_dir`."""
    after_dir = after_dir or before_dir
    out: dict[str, list[str] | None] = {}
    for name in sorted(os.listdir(before_dir)):
        if not name.endswith("_before.txt"):
            continue
        qid = name[: -len("_before.txt")]
        after = os.path.join(after_dir, f"{qid}_after.txt")
        if not os.path.exists(after):
            out[qid] = None
            continue
        with open(os.path.join(before_dir, name)) as b, open(after) as a:
            out[qid] = plan_diff(b.read(), a.read())
    return out


def compare_main(before_dir: str, after_dir: str | None = None) -> int:
    bad = 0
    for qid, diff in compare_dirs(before_dir, after_dir).items():
        if diff is None:
            print(f"{qid}: MISSING after capture")
        elif diff:
            print(f"{qid}: DIFFERENT")
            print("\n".join(diff))
        else:
            print(f"{qid}: identical")
        bad += diff is None or bool(diff)
    return 1 if bad else 0


def main() -> None:
    if sys.argv[1] == "compare":
        sys.exit(compare_main(*sys.argv[2:4]))
    tag, outdir, ids_csv = sys.argv[1], sys.argv[2], sys.argv[3]
    root = (
        sys.argv[4]
        if len(sys.argv) > 4
        else os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    sys.path.insert(0, root)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from maxscale_cdc_spark.session import get_spark

    spark = get_spark("plan-capture")
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    os.makedirs(outdir, exist_ok=True)
    for qid in ids_csv.split(","):
        df = qs[qid](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(outdir, f"{qid}_{tag}.txt"), "w") as fh:
            fh.write(buf.getvalue())
        print(f"captured {qid}_{tag}", file=sys.stderr)


if __name__ == "__main__":
    main()
