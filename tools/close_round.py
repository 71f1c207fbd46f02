"""Mechanical round close: rotate ``_DRIVER_PRIORITY`` and stage the
round artifacts so ``verify_round.py --fast`` is green at BOTH ends of a
round.

Rounds 10-12 each opened RED on the same two-part handoff ritual done
by hand: (a) the names the driver just proved green must leave the
priority window, and (b) the driver-written ``BENCH_r{N}.json`` /
``CORRECTNESS_r{N}.json`` / ``BENCH_SUMMARY.json`` must be committed.
This tool performs both edits mechanically:

1. Recompute driver evidence across every committed
   ``CORRECTNESS_r*.json`` (hash-green for oracle-backed names; a clean
   ``no_oracle`` run for rows-only names).
2. Rewrite the ``_DRIVER_PRIORITY`` literal in ``registry.py`` keeping
   ONLY names that still lack evidence, ordered oracle-backed first
   (hash evidence outranks rows-only slots — the ordering rule
   ``tests/test_registry.py`` enforces).
3. ``git add`` the round artifacts and the rewritten registry.
4. Re-run ``verify_round.py --fast`` and exit with its status, so a
   RED handoff cannot be produced silently.

Usage:  python tools/close_round.py [--dry-run]
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from verify_round import is_green  # noqa: E402  (a sibling in tools/)

REGISTRY = os.path.join(
    REPO, "go_otel_clickhouse_ingestor_spark", "registry.py"
)


def list_literal_re(name: str) -> re.Pattern:
    """The ``name: list[str] = [...]`` literal in registry.py, closed by
    the ``]`` that starts a line (or ``[]`` when empty), so a ``]``
    inside one of its comments cannot end the match early."""
    return re.compile(
        re.escape(name) + r": list\[str\] = \[(?:\]|.*?^\])", re.S | re.M
    )


def requeued(recheck: list[str], newest: dict) -> list[str]:
    """Re-check names still queued: those the newest CORRECTNESS
    artifact did not prove green (absent, errored or mismatched)."""
    return [n for n in recheck if not is_green(newest.get(n, {}))]


def evidence() -> tuple[set[str], set[str]]:
    """(hash-green names, rows-only-clean names) across all rounds."""
    green: set[str] = set()
    rows_clean: set[str] = set()
    for f in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        with open(f) as fh:
            for name, r in json.load(fh).items():
                if r.get("hash_match"):
                    green.add(name)
                elif (
                    r.get("err") == "no_oracle"
                    and r.get("spark_rows") is not None
                ):
                    rows_clean.add(name)
    return green, rows_clean


def rotate(dry_run: bool = False) -> list[str]:
    """Rewrite _DRIVER_PRIORITY to the still-unevidenced backlog."""
    from go_otel_clickhouse_ingestor_spark.registry import load_all

    reg = load_all()
    green, rows_clean = evidence()
    oracle_backlog = [
        n for n, q in reg.items() if q.oracle is not None and n not in green
    ]
    rows_backlog = [
        n
        for n, q in reg.items()
        if q.oracle is None and n not in rows_clean and n not in green
    ]
    backlog = oracle_backlog + rows_backlog  # hash evidence outranks rows-only

    with open(REGISTRY) as fh:
        src = fh.read()
    body = ""
    if oracle_backlog:
        body += "    # oracle-backed, no hash evidence yet\n"
        body += "".join(f'    "{n}",\n' for n in oracle_backlog)
    if rows_backlog:
        body += "    # rows-only, no clean driver run yet\n"
        body += "".join(f'    "{n}",\n' for n in rows_backlog)
    new_literal = (
        "_DRIVER_PRIORITY: list[str] = []"
        if not backlog
        else "_DRIVER_PRIORITY: list[str] = [\n" + body + "]"
    )
    new_src, n_sub = list_literal_re("_DRIVER_PRIORITY").subn(
        new_literal, src, count=1
    )
    if n_sub != 1:
        print("close_round: could not locate the _DRIVER_PRIORITY literal")
        sys.exit(2)
    # _DRIVER_RECHECK maintenance: a recheck name the NEWEST
    # CORRECTNESS artifact proved green got its re-verification — drop
    # it; names the window didn't reach, or that came back red, stay
    # queued.
    from go_otel_clickhouse_ingestor_spark.registry import _DRIVER_RECHECK

    files = sorted(
        glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")),
        key=lambda p: int(re.search(r"r(\d+)\.json$", p).group(1)),
    )
    newest = json.load(open(files[-1])) if files else {}
    still_queued = requeued(_DRIVER_RECHECK, newest)
    if still_queued != list(_DRIVER_RECHECK):
        rc_body = "".join(f'    "{n}",\n' for n in still_queued)
        rc_literal = (
            "_DRIVER_RECHECK: list[str] = []"
            if not still_queued
            else "_DRIVER_RECHECK: list[str] = [\n" + rc_body + "]"
        )
        new_src, rc_sub = list_literal_re("_DRIVER_RECHECK").subn(
            rc_literal, new_src, count=1
        )
        if rc_sub != 1:
            print("close_round: could not locate the _DRIVER_RECHECK literal")
            sys.exit(2)
        print(
            f"close_round: recheck -> {len(still_queued)} queued "
            f"({len(_DRIVER_RECHECK) - len(still_queued)} re-proved, dropped)"
        )
    if new_src != src and not dry_run:
        with open(REGISTRY, "w") as fh:
            fh.write(new_src)
    print(
        f"close_round: rotation -> {len(backlog)} backlog names "
        f"({len(oracle_backlog)} oracle-backed, {len(rows_backlog)} rows-only)"
    )
    return backlog


#: Exact repo-relative paths this tool is allowed to stage, as
#: predicates over NUL-split porcelain paths (ADVICE r13: substring
#: matching on whole status lines mis-parsed renames and could stage
#: unrelated paths that merely contain "registry.py").
_STAGEABLE = (
    re.compile(r"^BENCH_r\d+\.json$"),
    re.compile(r"^CORRECTNESS_r\d+\.json$"),
    re.compile(r"^BENCH_SUMMARY\.json$"),
    re.compile(r"^go_otel_clickhouse_ingestor_spark/registry\.py$"),
)


def stageable_paths(porcelain_z: str) -> list[str]:
    """Exact repo-relative stageable paths from ``git status
    --porcelain -z`` output (NUL-separated records, paths verbatim —
    no quoting; renames/copies as ``XY new\\0old\\0``)."""
    paths: list[str] = []
    records = iter(porcelain_z.split("\0"))
    for rec in records:
        if len(rec) < 4:
            continue
        status, path = rec[:2], rec[3:]
        paths.append(path)
        if status[0] in "RC":  # rename/copy: next NUL field is the source
            next(records, None)
    return [p for p in paths if any(rx.match(p) for rx in _STAGEABLE)]


def stage_artifacts(dry_run: bool = False) -> list[str]:
    out = subprocess.run(
        ["git", "status", "--porcelain", "-z"],
        cwd=REPO,
        capture_output=True,
        text=True,
    ).stdout
    loose = stageable_paths(out)
    if loose and not dry_run:
        subprocess.run(["git", "add", *loose], cwd=REPO, check=True)
    verb = "would stage" if dry_run else "staged"
    print(f"close_round: {verb} {loose or 'nothing (tree clean)'}")
    return loose


def main() -> None:
    dry = "--dry-run" in sys.argv
    rotate(dry_run=dry)
    stage_artifacts(dry_run=dry)
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "verify_round.py"), "--fast"],
        cwd=REPO,
    )
    sys.exit(r.returncode)


if __name__ == "__main__":
    main()
