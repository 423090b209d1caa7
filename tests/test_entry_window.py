"""Driver-window selection — the self-maintaining CORRECTNESS rotation.

The driver checks only the alphabetically-first 50 exported keys, so
__spark_entry__ prefixes a priority set derived from the committed
CORRECTNESS_r*.json history: never-green queries always window; remaining
slots rotate onto the stalest-green ones.  Pure logic, pinned here.
"""

from __future__ import annotations

import json

import __spark_entry__ as entry


def test_select_window_never_green_first():
    names = ["b", "a", "z", "m"]
    history = {"a": 3, "m": 1}
    win = entry._select_window(names, history)
    # never-green (b, z) always in; fill with stalest (m round 1, then a).
    assert {"b", "z"}.issubset(win)
    assert win == {"a", "b", "m", "z"}  # all fit under the 50 cap


def test_select_window_caps_and_prefers_stalest(monkeypatch):
    monkeypatch.setattr(entry, "_WINDOW_SIZE", 3)
    names = [f"q{i}" for i in range(6)]
    history = {"q0": 4, "q1": 1, "q2": 2}  # q3..q5 never green
    win = entry._select_window(names, history)
    assert win == {"q3", "q4", "q5"}  # never-green fills the whole window
    monkeypatch.setattr(entry, "_WINDOW_SIZE", 5)
    win = entry._select_window(names, history)
    # 3 never-green + 2 stalest (q1 round 1, q2 round 2); q0 (round 4) waits.
    assert win == {"q3", "q4", "q5", "q1", "q2"}


def test_green_history_parses_prefixed_and_filters(tmp_path):
    ok = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
    bad = {"rows_match": True, "schema_match": True, "hash_match": False, "err": None}
    rows_only = {"rows_match": None, "schema_match": None, "hash_match": None, "err": "no_oracle"}
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({"x": ok, "y": bad}))
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"a_x": ok, "z": rows_only, "w": ok})
    )
    (tmp_path / "CORRECTNESS_r03.json").write_text("{not json")  # skipped
    hist = entry._green_history(str(tmp_path))
    # x green in r1 and (as a_x) r2 → latest round 2; y never green;
    # z rows-only counts as green; w green r2.
    assert hist == {"x": 2, "z": 2, "w": 2}


def test_consecutive_round_union_covers_registry():
    """The core rotation guarantee: with |registry| <= 2*window, the union of
    any two consecutive rounds' windows covers every registered query.

    Simulated: round N greens exactly its window; round N+1's selection must
    pick up everything else."""
    names = [f"q{i:03d}" for i in range(95)]
    history: dict[str, int] = {}
    seen_rounds: list[frozenset] = []
    for rnd in (1, 2, 3):
        win = entry._select_window(names, history)
        assert len(win) == entry._WINDOW_SIZE
        seen_rounds.append(win)
        for n in win:  # driver greens the whole window
            history[n] = rnd
    for a, b in zip(seen_rounds, seen_rounds[1:]):
        assert a | b == set(names)


def test_live_window_covers_all_non_green_from_committed_history():
    """Against the real committed CORRECTNESS_r*.json files: the current
    window must contain every query whose last green row predates the
    latest committed round (i.e. the rotation is live, not stalled)."""
    import os

    repo = os.path.dirname(os.path.abspath(entry.__file__))
    hist = entry._green_history(repo)
    if not hist:  # fresh checkout without history — covered below
        return
    from vector_graph_rag_spark.queries import load_all

    names = set(load_all())
    latest = max(hist.values())
    behind = {n for n in names if hist.get(n, 0) < latest}
    win = entry._window_priority()
    if len(behind) <= entry._WINDOW_SIZE:
        assert behind <= win
        # union of last committed round's greens and this window = registry
        last_green = {n for n in names if hist.get(n) == latest}
        assert last_green | win >= names


def test_window_without_history_is_first_50_registered(tmp_path, monkeypatch):
    """A checkout with no CORRECTNESS_r*.json has no green history: every
    query is never-green, so the window is the first 50 registered names."""
    from vector_graph_rag_spark.queries import load_all

    monkeypatch.setattr(entry, "__file__", str(tmp_path / "__spark_entry__.py"))
    win = entry._window_priority()
    names = sorted(load_all())
    assert len(win) == entry._WINDOW_SIZE == 50
    assert win == set(names[:50])


def test_registered_names_never_use_reserved_prefix():
    """register() rejects names starting with 'a_' (ADVICE r4 item 4)."""
    import pytest

    from vector_graph_rag_spark.queries import load_all, register

    assert not any(n.startswith("a_") for n in load_all())
    with pytest.raises(ValueError, match="reserved"):
        register("a_bad_name")(lambda spark, sf: None)


def test_exported_keys_consistent_and_window_full():
    qs = entry.queries()
    oracles = entry.oracle_sql()
    assert set(oracles) <= set(qs)
    window = list(qs)[: entry._WINDOW_SIZE]
    # every exported key maps back to a registered query
    from vector_graph_rag_spark.queries import load_all

    registered = set(load_all())
    for key in qs:
        base = key[2:] if key.startswith("a_") else key
        assert base in registered
    # with committed history present, the window is exactly the priority set
    prefixed = [k for k in qs if k.startswith("a_")]
    assert len(prefixed) <= entry._WINDOW_SIZE
    assert all(k in window for k in prefixed)


def test_retired_green_history_cannot_strand_selector():
    """r6 registry swap regression (r5 verdict, Next #7): queries retired
    with committed green history must be IGNORED by the selector — history
    names not in the active registry can neither occupy window slots nor
    stall rotation."""
    active = [f"q{i:02d}" for i in range(10)]
    # history contains retired names (r*) with both stale and fresh rounds
    history = {"r_old": 1, "r_new": 9, "q00": 2, "q01": 3}
    win = entry._select_window(active, history)
    assert "r_old" not in win and "r_new" not in win
    # never-green actives all present, stalest greens fill the rest
    assert {f"q{i:02d}" for i in range(2, 10)}.issubset(win)
    assert win == set(active)  # all 10 fit under the 50 cap


def test_post_swap_union_covers_new_registry():
    """Simulate the exact r6 state: 100 active queries of which 8 are new
    (never green), retirees' green rows still in history, half the actives
    green in round N-1 (r5) and the other half in round N-2 (r4).  The
    round-N window must be the 8 new + the 42 r4-green actives, so
    r5 ∪ r6 covers the full post-swap registry."""
    old_active = [f"old{i:02d}" for i in range(92)]
    new_queries = [f"new{i}" for i in range(8)]
    retired = [f"ret{i}" for i in range(8)]
    # 50 actives green in r5; the other 42 actives + 8 retirees green in r4
    history = {n: 5 for n in old_active[:50]}
    history.update({n: 4 for n in old_active[50:]})
    history.update({n: 4 for n in retired})
    names = old_active + new_queries
    win = entry._select_window(names, history)
    assert len(win) == entry._WINDOW_SIZE == 50
    assert set(new_queries).issubset(win)
    assert win == set(new_queries) | set(old_active[50:])
    r5_green = set(old_active[:50])
    assert r5_green | win == set(names)


def _load_rotation_check():
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "rotation_check",
        os.path.join(os.path.dirname(__file__), "..", "tools", "rotation_check.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_rotation_check_tool_swap_half_rule_synthetic():
    """tools/rotation_check.py mechanizes the swap-half rule, pinned on a
    SYNTHETIC history fixture (the r10-era version of this test asserted a
    concrete plan against LIVE committed history with a frozen
    assume_next_green flag, which broke the moment the driver dropped the
    next CORRECTNESS file — r10 verdict, What's wrong #1).

    Fixture: 100 actives, 50 green in round 10 (fresh), 50 in round 9
    (stale); 4 staged.  A plan retiring from the stale half verifies; the
    same plan retiring from the fresh half is flagged and breaks the union."""
    mod = _load_rotation_check()
    fresh = [f"f{i:02d}" for i in range(50)]
    stale = [f"s{i:02d}" for i in range(50)]
    staged = [f"new{i}" for i in range(4)]
    active = set(fresh + stale)
    declared = active | set(staged)
    hist = {n: 10 for n in fresh} | {n: 9 for n in stale}

    good = mod.simulate(
        stale[:4], staged, hist=hist, active=active, declared=declared
    )
    assert good["union_ok"] and not good["problems"], good
    assert good["new_in_window"] == sorted(staged)

    bad = mod.simulate(
        fresh[:4], staged, hist=hist, active=active, declared=declared
    )
    assert bad["problems"] and not bad["union_ok"]
    # the flagged problem names the half rule explicitly
    assert any("FRESH" in p for p in bad["problems"])


def test_rotation_check_assume_next_green_timing_trap():
    """The --assume-next-green flag models planning round N+2 while round
    N+1 is still running: queries fresh TODAY become stale AT SWAP TIME.
    Same synthetic fixture, shifted one round back: the correct swap-time
    retirees live in what raw history calls the fresh half, so the plan
    verifies ONLY under the flag.  Also pins stability under 'the driver
    drops the next CORRECTNESS file': adding that round to history and
    dropping the flag must yield the identical verdict."""
    mod = _load_rotation_check()
    fresh = [f"f{i:02d}" for i in range(50)]
    stale = [f"s{i:02d}" for i in range(50)]
    staged = [f"new{i}" for i in range(4)]
    active = set(fresh + stale)
    declared = active | set(staged)
    # history ends at round 9: the round-10 window (= the stale half) has
    # not landed yet; we are planning the round-11 swap.
    hist = {n: 9 for n in fresh} | {n: 8 for n in stale}
    retire = fresh[:4]  # fresh in raw history, stale at r11 swap time

    planned = mod.simulate(
        retire, staged, assume_next_green=True,
        hist=hist, active=active, declared=declared,
    )
    assert planned["union_ok"] and not planned["problems"], planned
    assert planned["new_in_window"] == sorted(staged)

    premature = mod.simulate(
        retire, staged, assume_next_green=False,
        hist=hist, active=active, declared=declared,
    )
    assert premature["problems"] and not premature["union_ok"]

    # driver drops round 10's CORRECTNESS: raw history now matches what the
    # flag simulated, so the un-flagged verdict flips to match `planned`.
    landed_hist = {n: 9 for n in fresh} | {n: 10 for n in stale}
    landed = mod.simulate(
        retire, staged, assume_next_green=False,
        hist=landed_hist, active=active, declared=declared,
    )
    assert landed["union_ok"] and not landed["problems"]
    assert landed["new_in_window"] == planned["new_in_window"]
