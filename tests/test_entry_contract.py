"""Driver-contract guards for __spark_entry__ (no Spark session needed).

The correctness driver gates the FIRST 50 entries of queries(); past
rounds lost driver evidence by rotating recently-changed paths out of the
window (r03 verdict finding #2). These tests pin the ordering rule so a
future reorder fails loudly instead of silently ungating the default
engine.
"""

from __future__ import annotations

import importlib.util
import os

_SPEC = importlib.util.spec_from_file_location(
    "spark_entry_under_test",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "__spark_entry__.py"),
)
entry_mod = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(entry_mod)

# the only entries allowed to ship without a DuckDB oracle (documented:
# 64-bit rolling hash is not expressible in DuckDB without overflow UB)
NO_ORACLE = {"text_fingerprint"}

GATE_WINDOW = 50


def test_every_query_has_an_oracle_or_is_documented():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    missing = set(qs) - set(oracles) - NO_ORACLE
    assert not missing, f"queries without oracle_sql and not documented: {sorted(missing)}"
    orphans = set(oracles) - set(qs)
    assert not orphans, f"oracle_sql entries with no query: {sorted(orphans)}"


def test_gate_window_holds_the_load_bearing_entries():
    """Everything that IS the engine (all 21 ICs over the seeded cubes, the
    DEFAULT encoded engine, the at-rest bucketed path, the new-oracle IVF,
    the KG pipeline stages) must sit inside the driver's first-50 window."""
    window = list(entry_mod.queries())[:GATE_WINDOW]
    required = (
        [f"cube_ic{i}" for i in range(1, 22)]
        + ["enc_cube_ic1", "enc_cube_ic11", "enc_cube_ic12", "bucketed_cube_ic12"]
        + ["ann_ivf", "events_sessionize", "kg_transcripts", "kg_mentions", "kg_triples"]
        + ["dedup_exact", "dedup_minhash", "dedup_simhash", "embedding_near_pairs"]
    )
    out = [k for k in required if k not in window]
    assert not out, f"load-bearing entries outside the 50-entry gate window: {out}"


def test_ungated_tail_is_only_documented_duplicates():
    """The tail may hold only generic shapes whose operator families are
    re-exercised in-window, plus the documented no-oracle entries."""
    tail = list(entry_mod.queries())[GATE_WINDOW:]
    allowed = {
        "anti_join",
        "semi_join",
        "set_except",
        "window_top1",
        "count_distinct",
        "events_latest",
        "events_stats",
        # r5: lag-window family re-exercised in-window by events_sessionize;
        # rotated out to make room for streaming_ic12 (code unchanged in r5)
        "kg_turn_order",
    } | NO_ORACLE
    unexpected = [k for k in tail if k not in allowed]
    assert not unexpected, f"undocumented entries in the ungated tail: {unexpected}"


def test_gate_sweep_treats_oversized_digit_suffix_as_legacy(tmp_path, monkeypatch):
    """An all-digit gate-dir suffix too large to be a pid is a legacy
    hash-only name: the sweep keeps it while young and removes it once
    older than a day, instead of raising OverflowError from os.kill."""
    import tempfile
    import time

    monkeypatch.setenv("TMPDIR", str(tmp_path))
    monkeypatch.setattr(tempfile, "tempdir", None)
    young = tmp_path / "nospa_gate_atrest_99999999999999999999"
    old = tmp_path / "nospa_gate_atrest_88888888888888888888"
    young.mkdir()
    old.mkdir()
    stale = time.time() - 2 * 86400
    os.utime(old, (stale, stale))
    own = tmp_path / f"nospa_gate_atrest_{os.getpid()}_self"
    own.mkdir()
    entry_mod._gate_workdir_housekeeping(str(own))
    assert young.exists() and own.exists()
    assert not old.exists()
