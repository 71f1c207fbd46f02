"""Registry invariants: the driver-evidence rotation must stay
consistent with the registered query set."""

import pytest


def test_driver_priority_names_all_exist():
    """Every _DRIVER_PRIORITY entry must name a registered query (a
    typo here silently burns a driver CORRECTNESS slot).  Rows-only
    names are allowed in the window only once no never-driver-green
    oracle-backed query waits OUTSIDE it (the round-9 endgame: the 11
    rows-only queries fill the window's spare slots so the driver
    records their clean runs) — tools/verify_round.py enforces the
    same rule against the committed CORRECTNESS history."""
    from go_otel_clickhouse_ingestor_spark import registry

    reg = registry.load_all()
    missing = [n for n in registry._DRIVER_PRIORITY if n not in reg]
    assert not missing, f"priority names not in registry: {missing}"
    # Oracle-backed names must come FIRST: a rows-only name ahead of an
    # oracle-backed one would burn a hash-verifiable slot as no_oracle.
    kinds = [reg[n].oracle is None for n in registry._DRIVER_PRIORITY]
    first_rows_only = kinds.index(True) if True in kinds else len(kinds)
    misordered = [
        n
        for n, is_rows_only in zip(
            registry._DRIVER_PRIORITY[first_rows_only:],
            kinds[first_rows_only:],
        )
        if not is_rows_only
    ]
    assert not misordered, (
        f"oracle-backed priority names listed AFTER rows-only ones "
        f"(would be displaced out of the window): {misordered}"
    )


@pytest.mark.slow
def test_unbounded_broadcast_gate():
    """The verify_round static gate must (a) flag an F.broadcast over a
    groupBy on a text-derived key — including one assignment-hop away,
    the round-9 RAKE shape that survived three rounds of review — and
    (b) pass limit-bounded, global-aggregate, and annotated sites."""
    import os
    import sys
    import tempfile

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from verify_round import check_unbounded_broadcasts

    bad = """
from pyspark.sql import functions as F

def q(df):
    toks = df.select(F.explode(F.split("text", " ")).alias("w"))
    ws = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    wscore = ws.select("w", (F.col("c") * 2).alias("s"))
    return toks.join(F.broadcast(wscore), "w")
"""
    good = """
from pyspark.sql import functions as F

def q(df):
    toks = df.select(F.explode(F.split("text", " ")).alias("w"))
    vocab = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c")).limit(1000)
    total = toks.agg(F.count(F.lit(1)).alias("n"))
    # bounded domain: char trigrams, <= 60^3 keys at any corpus size
    tri = toks.groupBy("gram").agg(F.count(F.lit(1)).alias("c"))
    return (toks.join(F.broadcast(vocab), "w")
                .crossJoin(F.broadcast(total))
                .join(F.broadcast(tri), "gram"))
"""
    with tempfile.TemporaryDirectory() as td:
        pb, pg = os.path.join(td, "bad.py"), os.path.join(td, "good.py")
        open(pb, "w").write(bad)
        open(pg, "w").write(good)
        flagged = check_unbounded_broadcasts([pb])
        assert len(flagged) == 1 and "wscore" in flagged[0], flagged
        assert check_unbounded_broadcasts([pg]) == []
    # and the live tree is clean
    assert check_unbounded_broadcasts() == []


def test_unpartitioned_window_gate():
    """The verify_round window gate must (a) flag a zero-arg
    Window.partitionBy() and a class-level Window.orderBy over
    unannotated frames — the round-10 HITS normalizer shape that
    slipped past review — and (b) pass sites carrying a 'bounded'
    note in a nearby comment or the enclosing docstring."""
    import os
    import sys
    import tempfile

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from verify_round import check_unpartitioned_windows

    bad = """
from pyspark.sql import functions as F
from pyspark.sql.window import Window

def q(scores):
    wall = Window.partitionBy()
    wr = Window.orderBy(F.col("raw").desc())
    return scores.withColumn("tot", F.sum("raw").over(wall))
"""
    good = """
from pyspark.sql import functions as F
from pyspark.sql.window import Window

def q(top):
    # bounded: window ranks the 10-row limit output only
    wr = Window.orderBy(F.col("n").desc())
    return top.withColumn("rn", F.row_number().over(wr))

def r(counts):
    '''Prefix offsets over the bucket-COUNT frame — bucket-bounded.'''
    w = Window.partitionBy().orderBy("bucket")
    return counts.withColumn("off", F.sum("n").over(w))
"""
    with tempfile.TemporaryDirectory() as td:
        pb, pg = os.path.join(td, "bad.py"), os.path.join(td, "good.py")
        open(pb, "w").write(bad)
        open(pg, "w").write(good)
        flagged = check_unpartitioned_windows([pb])
        assert len(flagged) == 2, flagged
        assert check_unpartitioned_windows([pg]) == []
    # and the live tree is clean
    assert check_unpartitioned_windows() == []


def test_close_round_stageable_paths_exact_matching():
    """stage_artifacts parses porcelain -z records into exact paths:
    renames keep only the NEW path (source consumed), spaces survive
    unsplit, and substring look-alikes (a path merely CONTAINING
    'registry.py' or 'BENCH_r') are not staged (ADVICE r13)."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from close_round import stageable_paths

    z = "\0".join(
        [
            " M go_otel_clickhouse_ingestor_spark/registry.py",
            "?? BENCH_r14.json",
            "?? CORRECTNESS_r14.json",
            " M BENCH_SUMMARY.json",
            # rename: new path first, then the source — source must be
            # consumed, not treated as its own record
            "R  BENCH_r02.json",
            "notes/old BENCH_r02 copy.json",
            # substring traps
            "?? docs/registry.py.md",
            "?? tools/registry.pyx",
            "?? notes/BENCH_r99.json.bak",
            "?? dir with space/BENCH_SUMMARY.json",
            "",
        ]
    )
    got = stageable_paths(z)
    assert got == [
        "go_otel_clickhouse_ingestor_spark/registry.py",
        "BENCH_r14.json",
        "CORRECTNESS_r14.json",
        "BENCH_SUMMARY.json",
        "BENCH_r02.json",
    ], got


def test_close_round_requeues_red_rechecks_and_reads_whole_literal():
    """A re-check name leaves _DRIVER_RECHECK only when the newest
    CORRECTNESS entry is GREEN (a red or missing re-verification stays
    queued), and the literal rewrite spans the whole list even when a
    comment inside it holds a ``]`` (ADVICE r16)."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from close_round import list_literal_re, requeued

    newest = {
        "hashed": {"hash_match": True},
        "rows_ok": {"err": None, "rows_match": True, "schema_match": True},
        "errored": {"err": "boom", "rows_match": True, "schema_match": True},
        "mismatch": {"err": None, "rows_match": False, "schema_match": True},
    }
    names = ["hashed", "rows_ok", "errored", "mismatch", "unreached"]
    assert requeued(names, newest) == ["errored", "mismatch", "unreached"]

    src = (
        "_DRIVER_RECHECK: list[str] = [\n"
        '    # rewritten in r[16]\n'
        '    "a",\n'
        "]\nAFTER = [1]\n"
    )
    assert list_literal_re("_DRIVER_RECHECK").sub("X", src) == "X\nAFTER = [1]\n"
    empty = "_DRIVER_RECHECK: list[str] = []\nAFTER = [1]\n"
    assert list_literal_re("_DRIVER_RECHECK").sub("X", empty) == "X\nAFTER = [1]\n"


def test_rotation_handoff_state_is_ok_not_red():
    """The rotation gate must report the post-driver terminal state —
    priority-window heads green ONLY in uncommitted driver artifacts —
    as handoff (exit 0), while heads green in COMMITTED evidence stay a
    hard error (VERDICT r14 #1: five consecutive rounds ended RED on
    the expected handoff, training everyone to ignore red)."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from verify_round import rotation_errs

    reg = {"q_old", "q_new", "q_rows"}
    oracle = {"q_old", "q_new"}

    # normal mid-round state: head not green anywhere -> GREEN, no handoff
    errs, handoff = rotation_errs(
        ["q_new", "q_rows"], reg, oracle, {"q_old"}, {"q_old"}
    )
    assert errs == [] and not handoff

    # post-driver terminal state: head green only in the uncommitted
    # artifact (disk-green, not committed-green) -> HANDOFF-OK
    errs, handoff = rotation_errs(
        ["q_new", "q_rows"], reg, oracle, {"q_old"}, {"q_old", "q_new"}
    )
    assert errs == [] and handoff

    # genuinely stale: head green in COMMITTED evidence -> RED
    errs, handoff = rotation_errs(
        ["q_new", "q_rows"],
        reg,
        oracle,
        {"q_old", "q_new"},
        {"q_old", "q_new"},
    )
    assert any("COMMITTED" in e for e in errs) and not handoff

    # mixed: one committed-stale head keeps RED even with a fresh one
    errs, handoff = rotation_errs(
        ["q_old", "q_new"], reg, oracle, {"q_old"}, {"q_old", "q_new"}
    )
    assert errs and not handoff

    # missing check still uses disk evidence: a name the driver just
    # proved green (uncommitted) is NOT demanded back into the list
    errs, handoff = rotation_errs(
        [], reg, oracle, {"q_old"}, {"q_old", "q_new"}
    )
    assert errs == [] and not handoff


def test_formats_cache_path_prunes_stale_siblings(tmp_path, monkeypatch):
    """_cache_path removes same-(format, sf_dir) dirs with a different
    fingerprint suffix (fixture regenerated in place) and leaves other
    formats, other sf_dirs, and the current entry alone (ADVICE r13:
    unbounded /tmp growth; ADVICE r14: the prefix-only prune let
    concurrent sessions on different sf_dirs evict each other's live
    cache dirs)."""
    import os

    from go_otel_clickhouse_ingestor_spark.operators import formats as FM

    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "events.parquet").write_bytes(b"x" * 64)
    sf2 = tmp_path / "sf2"
    sf2.mkdir()
    (sf2 / "events.parquet").write_bytes(b"y" * 32)
    root = tmp_path / "cache"
    root.mkdir()
    monkeypatch.setattr(FM, "_CACHE_ROOT", str(root))

    cur = FM._cache_path("json", str(sf))
    stem, suffix = os.path.basename(cur).rsplit("_", 1)
    os.makedirs(cur)
    # a concurrent session's live cache for a DIFFERENT sf_dir
    other_sf = FM._cache_path("json", str(sf2))
    os.makedirs(other_sf)
    # stale same-(format, sf_dir) sibling, a different format, junk
    (root / f"{stem}_aaaaaaaaaaaa").mkdir()
    (root / "csv_bbbbbbbbbbbb").mkdir()
    (root / "scratch").mkdir()

    again = FM._cache_path("json", str(sf))
    assert again == cur and os.path.isdir(cur)
    assert not (root / f"{stem}_aaaaaaaaaaaa").exists(), "stale sibling kept"
    assert os.path.isdir(other_sf), "other sf_dir's live cache evicted"
    assert (root / "csv_bbbbbbbbbbbb").exists(), "other format pruned"
    assert (root / "scratch").exists()
    # regenerating the fixture mints a new suffix and prunes the old one
    os.utime(sf / "events.parquet", (1, 1))
    moved = FM._cache_path("json", str(sf))
    assert os.path.basename(moved).rsplit("_", 1)[1] != suffix
    assert not os.path.isdir(cur), "old fingerprint dir kept after regen"
    assert os.path.isdir(other_sf), "other sf_dir's cache evicted on regen"
