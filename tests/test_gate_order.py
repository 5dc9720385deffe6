"""Driver-gate ordering contract (VERDICT r7 item #1).

The round driver snapshots only the first ~50 ``queries()`` entries into
CORRECTNESS_r{N}.json. These tests pin that every entry that must land a
driver-verified row this round sits inside that window, and that the
rotation never silently drops an entry from the catalog.
"""

from slurm2sql_spark import catalog


def test_priority_entries_inside_gate_window():
    names = list(catalog.QUERIES)
    window = set(names[: catalog._GATE_WINDOW])
    missing = [n for n in catalog._GATE_PRIORITY if n not in window]
    assert not missing, f"priority entries outside driver gate window: {missing}"


def test_gate_reorder_is_a_permutation():
    # Reordering must not drop or duplicate entries.
    names = list(catalog.QUERIES)
    assert len(names) == len(set(names))
    # Every registered spec still present with a callable + doc'd oracle slot.
    for spec in catalog.QUERIES.values():
        assert callable(spec.spark)


def test_rows_only_set_is_exactly_simhash_fast():
    # Every entry but one is hash-checked against DuckDB. A new entry
    # without an oracle must be added here on purpose.
    rows_only = [n for n, s in catalog.QUERIES.items() if s.oracle is None]
    assert rows_only == ["dedup_simhash_fast"]


def test_tail_entries_are_only_stable_micros():
    # Anything rotated past the window must be an explicitly listed
    # long-stable micro — never a new or never-gated entry.
    names = list(catalog.QUERIES)
    tail = names[catalog._GATE_WINDOW :]
    allowed = set(catalog._GATE_TAIL)
    stray = [n for n in tail if n not in allowed]
    assert not stray, f"non-tail entries fell outside the gate window: {stray}"
    # Since r15 the tail is computed, so additionally pin the policy
    # intent directly: no never-gated entry may sit in the tail.
    last, _latest = catalog._gate_history()
    if last:
        never = [n for n in tail if n not in last]
        assert not never, f"never-gated entries rotated to the tail: {never}"


def test_rotation_survives_next_driver_write():
    """VERDICT r14 #1/#6: the static window was red at every judge
    boundary by construction — rotated FOR round N, stale the moment
    the driver wrote CORRECTNESS_rN. Simulate that boundary: extend
    the on-disk history with a synthetic round covering exactly the
    current window, recompute the rotation, and assert the staleness
    policy still holds for the round AFTER next. This must stay green
    for any number of simulated future rounds."""
    last, latest = catalog._gate_history()
    if not last:
        return
    names = list(catalog.QUERIES)
    sim = dict(last)
    rnd = latest
    for _ in range(5):  # five future judge boundaries
        rnd += 1
        front, _tail = catalog._compute_gate_rotation(sim)
        window = set(front[: catalog._GATE_WINDOW])
        current = rnd + 1  # round the NEXT driver run would gate
        stale = [
            n for n in names if n in sim and current - sim[n] >= 3
        ]
        in_window_stale = [n for n in stale if n in window]
        need = min(8, len(stale))
        assert len(in_window_stale) >= need, (
            f"simulated round {rnd}: window re-gates only "
            f"{len(in_window_stale)} of {len(stale)} stale entries"
        )
        rotten = [
            n
            for n in names
            if n in sim and current - sim[n] > 7 and n not in window
        ]
        assert not rotten, f"simulated round {rnd}: rotten {rotten}"
        # the driver gates the window: those entries get fresh rows
        for n in front[: catalog._GATE_WINDOW]:
            sim[n] = rnd


def test_driver_row_staleness_rotation_policy():
    """VERDICT r12 #5: rotation is POLICY, not memory. From the
    committed CORRECTNESS_r*.json history, compute each current
    entry's last driver-gated round and require that the current
    window re-gates the stale cohort: at least min(8, |cohort|)
    entries whose last row is >= 3 rounds old must sit INSIDE the
    window (so they get a fresh row this round), and no entry may go
    ungated longer than 7 rounds without being rotated in."""
    import glob
    import json
    import os
    import re

    root = os.path.join(os.path.dirname(__file__), "..")
    last: dict[str, int] = {}
    latest = 0
    for f in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"r(\d+)", os.path.basename(f)).group(1))
        latest = max(latest, rnd)
        try:
            rows = json.load(open(f))
        except ValueError:
            continue
        for name in rows:
            last[name] = max(last.get(name, 0), rnd)
    if not last:  # fresh checkout without history: nothing to police
        return
    names = list(catalog.QUERIES)
    window = set(names[: catalog._GATE_WINDOW])
    current = latest + 1  # the round about to run gates the window
    stale = sorted(
        (n for n in names if current - last.get(n, 0) >= 3 and n in last),
        key=lambda n: last[n],
    )
    in_window_stale = [n for n in stale if n in window]
    need = min(8, len(stale))
    assert len(in_window_stale) >= need, (
        f"window re-gates only {len(in_window_stale)} of the "
        f"{len(stale)} stale entries (need >= {need}); stalest: "
        f"{[(n, last[n]) for n in stale[:10]]}"
    )
    # hard cap: nothing may rot past 7 rounds outside the window
    rotten = [
        (n, last[n])
        for n in names
        if n in last and current - last[n] > 7 and n not in window
    ]
    assert not rotten, f"entries ungated > 7 rounds, rotate in: {rotten}"
