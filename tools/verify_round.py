"""One-command round gate: everything that must be green before the
driver's verdict runs, with a nonzero exit on ANY red.

The round-6 failure mode this tool exists to prevent: an unrotated
``_DRIVER_PRIORITY`` burned the driver's whole 50-slot CORRECTNESS
window on names already proven green in earlier rounds, yielding zero
new evidence.  Checks, in order of cheapness:

1. **rotation gate** — fail if any name in the head (first 50) of
   ``_DRIVER_PRIORITY`` is already green in a COMMITTED
   CORRECTNESS_r*.json, or if a never-green oracle-backed query exists
   that is missing from the list entirely.  Heads green only in
   UNCOMMITTED driver artifacts (the driver writes them after the
   builder's last commit) are the expected terminal state of every
   round — reported as ``HANDOFF-OK (run close_round)``, exit 0, not
   RED (r10-r14 all ended red on exactly this, training reviewers to
   ignore the gate).
2. **artifact gate** — warn (not fail) when BENCH_r*/CORRECTNESS_r*
   artifacts sit uncommitted in the working tree.
3. **pytest** — the full suite (skippable with --fast).
4. **full differential** — every oracle-backed query, Spark vs DuckDB
   at sf0.01 (skippable with --fast; single-query runs go through
   tools/check_oracle.py directly).
5. **plan audit** — regenerate PLANS.md at sf0.001 and fail if any
   query's plan has a row-at-a-time Python node (py column R>0).

Usage:  python tools/verify_round.py [--fast]
        --fast = gates 1-2 only (the pre-commit loop); full mode is
        the pre-verdict gate.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

WINDOW = 50  # driver CORRECTNESS slots per round


def is_green(entry: dict) -> bool:
    """One CORRECTNESS entry proves its query: hash match, or an
    error-free run whose rows and schema match."""
    return bool(
        entry.get("hash_match")
        or (
            entry.get("err") is None
            and entry.get("rows_match")
            and entry.get("schema_match")
        )
    )


def driver_green(exclude: frozenset[str] = frozenset()) -> set[str]:
    """Names proven green in any CORRECTNESS_r*.json on disk, skipping
    files whose basename is in ``exclude`` (the uncommitted driver
    artifacts at handoff time)."""
    green: set[str] = set()
    for f in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        if os.path.basename(f) in exclude:
            continue
        with open(f) as fh:
            green.update(n for n, r in json.load(fh).items() if is_green(r))
    return green


def uncommitted_correctness() -> frozenset[str]:
    """Basenames of CORRECTNESS_r*.json files the driver wrote AFTER
    the builder's last commit (untracked or modified in the working
    tree) — the post-driver terminal state close_round resolves."""
    import re

    out = subprocess.run(
        ["git", "status", "--porcelain", "-z"],
        cwd=REPO,
        capture_output=True,
        text=True,
    ).stdout
    rx = re.compile(r"^CORRECTNESS_r\d+\.json$")
    names: set[str] = set()
    records = iter(out.split("\0"))
    for rec in records:
        if len(rec) < 4:
            continue
        status, path = rec[:2], rec[3:]
        if status[0] in "RC":  # rename/copy: consume the source field
            next(records, None)
        if rx.match(path):
            names.add(path)
    return frozenset(names)


def rotation_errs(
    priority: list[str],
    reg_names: set[str],
    oracle_backed: set[str],
    green_committed: set[str],
    green_disk: set[str],
) -> tuple[list[str], bool]:
    """Pure rotation gate.  Returns ``(errors, handoff)``.

    ``handoff`` is True for the post-driver terminal state: every
    stale head name is green ONLY in uncommitted driver artifacts
    (``green_disk`` minus ``green_committed``).  Five consecutive
    rounds (r10-r14) ended RED on exactly this expected state, which
    teaches people to ignore red — it is now reported as
    ``HANDOFF-OK (run close_round)`` instead (VERDICT r14 #1).  A head
    name green in COMMITTED evidence is still a hard error: it wastes
    a driver window slot and close_round should already have removed
    it."""
    errs: list[str] = []
    head = priority[:WINDOW]
    stale_committed = [n for n in head if n in green_committed]
    stale_new = [
        n for n in head if n in green_disk and n not in green_committed
    ]
    handoff = bool(stale_new) and not stale_committed
    if stale_committed:
        errs.append(
            f"ROTATION: {len(stale_committed)} of the first {WINDOW} "
            f"_DRIVER_PRIORITY names are already driver-green in COMMITTED "
            f"evidence and would waste window slots: "
            f"{stale_committed[:10]}{'...' if len(stale_committed) > 10 else ''} "
            f"(go_otel_clickhouse_ingestor_spark/registry.py)"
        )
    unknown = [n for n in priority if n not in reg_names]
    if unknown:
        errs.append(f"ROTATION: priority names not in the registry: {unknown}")
    # Rows-only names in the window are only a waste while never-green
    # oracle-backed names still exist OUTSIDE the window — each rows-only
    # slot then displaces a hash-verifiable one.  Once the oracle backlog
    # fits in the window, the spare slots SHOULD hold rows-only names so
    # the driver records their clean runs (round-9 endgame: 338/338).
    oracle_backlog_outside = [
        n
        for n in oracle_backed
        if n not in green_disk and n not in head
    ]
    rows_only = [n for n in head if n in reg_names and n not in oracle_backed]
    if rows_only and oracle_backlog_outside:
        errs.append(
            f"ROTATION: rows-only queries in the window (burn slots as "
            f"no_oracle) while {len(oracle_backlog_outside)} oracle-backed "
            f"names still wait outside it: {rows_only}"
        )
    missing = [
        n
        for n in sorted(oracle_backed)
        if n not in green_disk and n not in priority
    ]
    if missing:
        errs.append(
            f"ROTATION: oracle-backed queries with no driver evidence that "
            f"are MISSING from _DRIVER_PRIORITY (driver will never sample "
            f"them early): {missing}"
        )
    return errs, handoff


def check_rotation() -> tuple[list[str], bool]:
    from go_otel_clickhouse_ingestor_spark.registry import _DRIVER_PRIORITY, load_all

    reg = load_all()
    uncommitted = uncommitted_correctness()
    green_disk = driver_green()
    green_committed = (
        green_disk if not uncommitted else driver_green(exclude=uncommitted)
    )
    return rotation_errs(
        list(_DRIVER_PRIORITY),
        set(reg),
        {n for n, q in reg.items() if q.oracle is not None},
        green_committed,
        green_disk,
    )


def check_plans_table() -> list[str]:
    """Fail when a registered query has no row in the committed
    PLANS.md — the audit table lagged two rounds running (r6: 2 names,
    r7: 2 names) because regeneration was manual.  Cheap string check,
    so it runs in --fast mode too."""
    from go_otel_clickhouse_ingestor_spark.registry import load_all

    plans = os.path.join(REPO, "PLANS.md")
    if not os.path.exists(plans):
        return ["PLANS: PLANS.md missing — run tools/plan_report.py"]
    rows = set()
    with open(plans) as fh:
        for line in fh:
            if line.startswith("| ") and not line.startswith("| query"):
                rows.add(line.split("|")[1].strip())
    missing = sorted(n for n in load_all() if n not in rows)
    errs = []
    if missing:
        errs.append(
            f"PLANS: {len(missing)} registered queries missing from the "
            f"PLANS.md audit table (regenerate with tools/plan_report.py): "
            f"{missing}"
        )
    errs += check_top_k_plans()
    return errs


#: Queries whose scale story DEPENDS on Spark rewriting their
#: rank/sort-then-limit into TakeOrderedAndProject (per-partition top-k).
#: Losing the rewrite — e.g. a non-foldable limit, or an expression over
#: the rank before the filter — silently reintroduces a full-domain sort
#: through one window task.  Gate: their PLANS.md `top-k` column must
#: keep `TOP`.
_TOP_K_REQUIRED = (
    "dedup_repeated_passages",
    "graph_jaccard_link_prediction",
    "graph_jaccard_link_prediction_lsh",
    "pipeline_dsir_select",
    "orders_price_dispersion",
    "text_term_burstiness",
    "events_top_paths",
    "text_zipf_fit",
    "text_collocations_pmi",
    "text_vocab_coverage_curve",
    "text_keyword_rake",
    "tpch_q3",
    "tpch_q10",
    "tpch_q21",
)


def check_top_k_plans() -> list[str]:
    """Fail when a load-bearing top-k query's PLANS.md row lost `TOP`."""
    plans = os.path.join(REPO, "PLANS.md")
    if not os.path.exists(plans):
        return []  # missing-file case already reported by caller
    top_col: dict[str, str] = {}
    with open(plans) as fh:
        for line in fh:
            if line.startswith("| ") and not line.startswith("| query"):
                cols = [c.strip() for c in line.split("|")]
                if len(cols) > 7:
                    top_col[cols[1]] = cols[7]
    lost = [
        n for n in _TOP_K_REQUIRED if n in top_col and top_col[n] != "TOP"
    ]
    if lost:
        return [
            f"PLANS: load-bearing top-k queries whose plan lost the "
            f"TakeOrderedAndProject rewrite (full-domain sort through one "
            f"task at scale): {lost}"
        ]
    return []


def check_unbounded_broadcasts(roots: list[str] | None = None) -> list[str]:
    """Static gate: flag ``F.broadcast(x)`` where ``x`` was built by a
    ``groupBy`` on a text/token/term/gram/word/phrase-derived key with
    no intervening ``limit`` — the distinct-key domain is unbounded
    under Heaps' law, so the forced broadcast (which overrides the
    auto-broadcast size threshold) OOMs at corpus scale.  Genuinely
    bounded domains (fixed sketch grids, char-trigram vocabularies,
    top-k tables) pass either by construction (``.limit(`` in the
    defining expression) or via an explicit ``bounded`` note in a
    comment within the two lines above the assignment — the point is
    forcing a deliberate, written justification at each site."""
    import ast
    import re

    key_re = re.compile(
        r"\.groupBy\(\s*[\"'](?:term|gram|token|phrase|word|w|shingle|ngram)[\"']"
    )
    errs: list[str] = []
    roots = roots or [
        os.path.join(REPO, "go_otel_clickhouse_ingestor_spark", "**", "*.py")
    ]
    for pattern in roots:
        for path in sorted(glob.glob(pattern, recursive=True)):
            with open(path) as fh:
                src = fh.read()
            if "broadcast" not in src:
                continue
            lines = src.splitlines()
            tree = ast.parse(src)
            assigns: dict[str, list[tuple[int, str]]] = {}
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Assign)
                    and len(node.targets) == 1
                    and isinstance(node.targets[0], ast.Name)
                ):
                    seg = ast.get_source_segment(src, node.value) or ""
                    assigns.setdefault(node.targets[0].id, []).append(
                        (node.lineno, seg)
                    )
            name_re = re.compile(r"[A-Za-z_]\w*")

            def unbounded_text_agg(name: str, before: int, depth: int = 3) -> bool:
                """True when ``name``'s defining chain reaches a groupBy
                on a text-derived key with no limit and no 'bounded'
                justification comment anywhere along the chain."""
                prior = [a for a in assigns.get(name, []) if a[0] <= before]
                if not prior or depth == 0:
                    return False
                alineno, seg = max(prior)
                if ".limit(" in seg:
                    return False  # bounded by construction (top-k)
                if ".agg(" in seg and ".groupBy(" not in seg:
                    return False  # global aggregate: exactly one row
                ctx = "\n".join(lines[max(0, alineno - 7) : alineno - 1])
                if "bounded" in ctx.lower() or "bounded" in seg.lower():
                    return False  # reviewed, justified in place
                if key_re.search(seg):
                    return True
                # follow the frame's lineage one hop (wscore = ws.select(...))
                return any(
                    unbounded_text_agg(ref, alineno, depth - 1)
                    for ref in set(name_re.findall(seg))
                    if ref != name and ref in assigns
                )

            for node in ast.walk(tree):
                if not (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "broadcast"
                    and node.args
                    and isinstance(node.args[0], ast.Name)
                ):
                    continue
                name = node.args[0].id
                if not unbounded_text_agg(name, node.lineno):
                    continue
                errs.append(
                    f"BROADCAST: {os.path.relpath(path, REPO)}:{node.lineno} — "
                    f"F.broadcast({name}) over a groupBy on a text-derived key "
                    f"with no limit (Heaps-unbounded domain at corpus scale); "
                    f"drop the hint (a key-aligned shuffle join is already "
                    f"co-partitioned) or add a '# bounded domain: ...' comment "
                    f"above the assignment with the rationale"
                )
    return errs


def check_unpartitioned_windows(roots: list[str] | None = None) -> list[str]:
    """Static gate: flag single-partition window specs — zero-arg
    ``Window.partitionBy()`` and class-level ``Window.orderBy(...)``
    (no partition clause) — that carry no written boundedness
    justification.  Both shapes funnel the ENTIRE input frame through
    one task, so they are only legitimate over domain-bounded frames
    (calendar days, fixed bins, top-k outputs, vocab caps).  The
    round-10 HITS normalizer slipped exactly this class past review
    (a node-domain-growing frame through ``Window.partitionBy()`` six
    times per run), so the discipline is the same as
    :func:`check_unbounded_broadcasts`: annotation-or-red.  A site
    passes when ``bounded`` (case-insensitive) appears in a COMMENT
    on the line or in the 6 lines above it, or in the enclosing
    function's docstring — the point is forcing a deliberate, written
    bound at each single-partition pass.  Aliases are resolved from
    the module's actual imports of ``pyspark.sql.window.Window`` (r11
    review: the old hardcoded {Window, _W, W} set let ``import Window
    as Win`` defeat the gate, and 'bounded' inside an unrelated
    string literal counted as an annotation)."""
    import ast
    import io
    import tokenize

    errs: list[str] = []
    roots = roots or [
        os.path.join(REPO, "go_otel_clickhouse_ingestor_spark", "**", "*.py")
    ]
    for pattern in roots:
        for path in sorted(glob.glob(pattern, recursive=True)):
            with open(path) as fh:
                src = fh.read()
            if "Window" not in src:
                continue
            tree = ast.parse(src)
            # Alias resolution from the import graph, not a name list:
            # every binding of pyspark.sql.window.Window (``from
            # pyspark.sql.window import Window [as X]``) plus every
            # module alias (``from pyspark.sql import window [as M]``
            # / ``import pyspark.sql.window [as M]``) whose
            # ``M.Window`` attribute access we also match below.
            aliases: set[str] = set()
            mod_aliases: set[str] = set()
            for n in ast.walk(tree):
                if isinstance(n, ast.ImportFrom):
                    if n.module == "pyspark.sql.window":
                        aliases.update(
                            a.asname or a.name
                            for a in n.names
                            if a.name == "Window"
                        )
                    elif n.module == "pyspark.sql":
                        mod_aliases.update(
                            a.asname or a.name
                            for a in n.names
                            if a.name == "window"
                        )
                        # pyspark.sql re-exports Window: ``from
                        # pyspark.sql import Window [as X]`` is the
                        # common legal form and must bind too (r12
                        # review: this exact form silently skipped the
                        # whole file)
                        aliases.update(
                            a.asname or a.name
                            for a in n.names
                            if a.name == "Window"
                        )
                elif isinstance(n, ast.Import):
                    mod_aliases.update(
                        a.asname or "pyspark"
                        for a in n.names
                        if a.name.startswith("pyspark.sql.window")
                    )
                elif isinstance(n, ast.Assign) and isinstance(
                    n.value, ast.Name
                ):
                    # one-hop re-binding (``W = Window``) — resolved on
                    # a second pass below once direct aliases are known
                    pass
            for n in ast.walk(tree):
                if (
                    isinstance(n, ast.Assign)
                    and isinstance(n.value, ast.Name)
                    and n.value.id in aliases
                ):
                    aliases.update(
                        t.id for t in n.targets if isinstance(t, ast.Name)
                    )
            if not aliases and not mod_aliases:
                continue
            # Annotation text = COMMENTS only (tokenize), not arbitrary
            # source — an incidental 'bounded' inside a string literal
            # no longer passes the gate.
            comment_by_line: dict[int, str] = {}
            for tok in tokenize.generate_tokens(io.StringIO(src).readline):
                if tok.type == tokenize.COMMENT:
                    comment_by_line[tok.start[0]] = tok.string.lower()
            funcs = [
                (n.lineno, n.end_lineno, (ast.get_docstring(n) or "").lower())
                for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]

            def annotated(lineno: int) -> bool:
                if any(
                    "bounded" in comment_by_line.get(ln, "")
                    for ln in range(max(1, lineno - 6), lineno + 1)
                ):
                    return True
                return any(
                    a <= lineno <= b and "bounded" in doc
                    for a, b, doc in funcs
                )

            def is_window_ref(expr: ast.expr) -> bool:
                if isinstance(expr, ast.Name):
                    return expr.id in aliases
                # module-alias access: ``M.Window`` / ``pyspark.sql.window.Window``
                if isinstance(expr, ast.Attribute) and expr.attr == "Window":
                    return ast.unparse(expr.value).split(".", 1)[0] in mod_aliases
                return False

            for node in ast.walk(tree):
                if not (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and is_window_ref(node.func.value)
                ):
                    continue
                kind = None
                if node.func.attr == "partitionBy" and not node.args:
                    kind = "zero-arg Window.partitionBy()"
                elif node.func.attr == "orderBy":
                    kind = "class-level Window.orderBy (no partition clause)"
                if kind is None or annotated(node.lineno):
                    continue
                errs.append(
                    f"WINDOW: {os.path.relpath(path, REPO)}:{node.lineno} — "
                    f"{kind} funnels the whole frame through ONE task; "
                    f"either restructure (partial agg + 1-row broadcast "
                    f"join, or two-phase bucketed row_number) or state the "
                    f"domain bound: 'bounded' in a comment within 6 lines "
                    f"above or in the enclosing function's docstring"
                )
    return errs


def check_readme_counts() -> list[str]:
    """Fail when README's registered-query count drifts from the
    registry (it lagged by hand three times in round 9 alone)."""
    import re

    from go_otel_clickhouse_ingestor_spark.registry import load_all

    reg = load_all()
    n = len(reg)
    n_oracle = sum(1 for q in reg.values() if q.oracle is not None)
    with open(os.path.join(REPO, "README.md")) as fh:
        readme = fh.read()
    m = re.search(
        r"\((\d+) registered queries, (\d+) with DuckDB oracle twins\)", readme
    )
    if not m:
        return ["README: registered-query count line not found"]
    if (int(m.group(1)), int(m.group(2))) != (n, n_oracle):
        return [
            f"README: counts say {m.group(1)}/{m.group(2)} but registry has "
            f"{n} queries / {n_oracle} oracle-backed — update README.md"
        ]
    return []


def check_artifacts() -> list[str]:
    out = subprocess.run(
        ["git", "status", "--porcelain"], cwd=REPO, capture_output=True, text=True
    ).stdout
    loose = [
        line.split()[-1]
        for line in out.splitlines()
        if any(tag in line for tag in ("BENCH_r", "CORRECTNESS_r", "BENCH_SUMMARY"))
    ]
    if loose:
        print(f"WARN: round artifacts uncommitted: {loose} — commit them.")
    return []  # warning only


def run_pytest() -> list[str]:
    r = subprocess.run(
        [sys.executable, "-m", "pytest", "tests/", "-x", "-q"], cwd=REPO
    )
    return [] if r.returncode == 0 else [f"PYTEST: exit {r.returncode}"]


def run_differential(sf_dir: str = "/root/testdata/sf0.01") -> list[str]:
    r = subprocess.run(
        [sys.executable, "tools/check_oracle.py", sf_dir],
        cwd=REPO,
        env={**os.environ, "PYTHONPATH": REPO},
    )
    return [] if r.returncode == 0 else [f"DIFFERENTIAL: exit {r.returncode}"]


def run_plan_audit(sf_dir: str = "/root/testdata/sf0.001") -> list[str]:
    plans = os.path.join(REPO, "PLANS.md")
    with open(plans, "w") as fh:
        r = subprocess.run(
            [sys.executable, "tools/plan_report.py", sf_dir],
            cwd=REPO,
            stdout=fh,
            env={**os.environ, "PYTHONPATH": REPO},
        )
    if r.returncode != 0:
        return [f"PLAN AUDIT: plan_report.py exit {r.returncode}"]
    errs = []
    with open(plans) as fh:
        for line in fh:
            # py column format: A<n>/R<n> — any row-at-a-time node is red
            if "| R" in line.replace("A", "").replace(" ", "") and "/R0" not in line:
                cols = [c.strip() for c in line.split("|")]
                if len(cols) > 6 and cols[6].startswith("A") and "/R0" not in cols[6]:
                    errs.append(f"PLAN AUDIT: row-at-a-time Python node: {cols[1]}")
    return errs


def main() -> None:
    fast = "--fast" in sys.argv
    errs, handoff = check_rotation()
    errs += check_plans_table()
    errs += check_readme_counts()
    errs += check_unbounded_broadcasts()
    errs += check_unpartitioned_windows()
    check_artifacts()
    if not fast:
        errs += run_pytest()
        errs += run_differential()
        errs += run_plan_audit()
    if errs:
        print("\n== verify_round: RED ==")
        for e in errs:
            print(" -", e)
        sys.exit(1)
    if handoff:
        print(
            "== verify_round: HANDOFF-OK — driver artifacts newer than HEAD "
            "prove the priority-window heads green; open the next round "
            "with `python tools/close_round.py` =="
        )
        return
    print(f"== verify_round: GREEN ({'fast' if fast else 'full'}) ==")


if __name__ == "__main__":
    main()
