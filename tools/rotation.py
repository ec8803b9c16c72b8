"""Generate the round's showcase window + the ROTATION.md worklist.

Reads CORRECTNESS_r*.json ∪ the live registry, computes the
never-driver-checked queries, and emits:

1. stdout — the Python tuple body to paste into
   `registry._SHOWCASE` (the guard tests verify the paste): the
   ANCHORS/REPRESENT/PRIORITY tiers first (each may be EMPTY — r11
   empties all three because the never-checked backlog is exactly
   one window), then a family-span pick per REQUIRED module still
   carrying backlog, then a largest-backlog-first fill preferring
   full-oracle queries (tests/test_registry_order.py carries the
   family-span invariant);
2. ROTATION.md — the machine-generated worklist (registry size,
   driver-checked count, the full never-checked list).  A guard test
   (tests/test_coverage_guard.py) recomputes the same numbers from
   CORRECTNESS history and fails when the committed file drifts —
   the hand-maintained comment block this replaces drifted twice.

Run: python tools/rotation.py [--write]   (--write rewrites ROTATION.md)
"""

from __future__ import annotations

import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ondemand_dask_spark.registry import all_queries  # noqa: E402

# Post-closure era (r12+): r11 closed certification at 443/443 —
# every registered query has ≥1 green driver row.  The 50-slot
# window's job changes from first-certification to RE-certification:
# (1) any query whose semantics changed this round MUST re-drive
# green (PRIORITY, unconditional), (2) new registrations are the
# only never-checked backlog and go first, (3) remaining slots
# re-green the LEAST-recently-checked queries (stale-first), so the
# whole registry recycles through the driver every ~8 rounds and a
# silent regression cannot hide behind an old green row.
ANCHORS: tuple[str, ...] = ()

# Rows-only re-presents (r13: none by hand — the adjacency
# discipline is now STRUCTURAL: registry twin links are read in the
# stale fill below, so any rows-only query entering the window via
# LRU automatically brings its oracle-checked twin along; r12's
# hand-paired estimator/census entry was the last manual pair).
REPRESENT: tuple[str, ...] = ()

# Unconditional picks — taken even if already driver-checked.
# Refresh each round from VERDICT.md.  The four queries the roadmap
# pins to the front of the window: the two quantile queries (ranged
# path, and their storage now released at the next query entry) and
# the two r15-reshaped text/dedup hot spots.
PRIORITY: tuple[str, ...] = (
    "agg_groupby_quantile",
    "agg_winsorize",
    "dedup_ngram_jaccard",
    "text_keyphrase_rake",
)

# every module the family-span invariant requires in the window —
# honored only while the module still has never-checked queries
# (a module whose entire registered surface is already driver-green,
# e.g. skew after r7, would otherwise burn a coverage slot on a
# repeat; tests/test_registry_order.py carries the same carve-out)
REQUIRED_MODULES = {
    "tpch", "sources", "relational", "joins", "aggregations",
    "windows", "sets", "scalars", "composed", "udfs", "dedup",
    "similarity", "text", "pipeline", "multimodal", "jobs",
    "incremental", "encoding", "skew",
}

WINDOW = 50


def correctness_files(repo: str) -> list[str]:
    """Every CORRECTNESS_r*.json on disk, sorted by round."""
    return sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")))


def checked_names(repo: str, files: list[str] | None = None) -> set[str]:
    """Query names with ≥1 driver CORRECTNESS row across `files`
    (default: every census file on disk)."""
    checked: set[str] = set()
    for f in correctness_files(repo) if files is None else files:
        with open(f) as fh:
            checked.update(json.load(fh).keys())
    return checked


def last_checked_round(repo: str) -> dict[str, int]:
    """query → the LATEST round with a driver CORRECTNESS row for it
    (files iterate in round order, so later rounds overwrite)."""
    last: dict[str, int] = {}
    for f in correctness_files(repo):
        rnd = int(os.path.basename(f)[len("CORRECTNESS_r"):-len(".json")])
        with open(f) as fh:
            for n in json.load(fh):
                last[n] = max(last.get(n, 0), rnd)
    return last


def build_window() -> tuple[list[str], set[str], dict[str, str]]:
    """Return (window, driver-checked names, query→module map)."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    checked = checked_names(repo)
    qs = all_queries()
    mod = {n: q.fn.__module__.rsplit(".", 1)[-1] for n, q in qs.items()}
    never = [n for n in qs if n not in checked and n not in ANCHORS]

    picks: list[str] = []
    chosen_mods = {mod[a] for a in ANCHORS}

    def take(name: str) -> None:
        if name not in picks and len(picks) < WINDOW - len(ANCHORS):
            picks.append(name)
            chosen_mods.add(mod[name])

    # 1. rows-only re-presents and verdict-named priorities — both
    #    unconditional in the post-closure era (a changed query must
    #    re-drive green even though it has an old row).
    for n in REPRESENT:
        if n in qs:
            take(n)
    for n in PRIORITY:
        if n in qs:
            take(n)

    # 2. cover required modules missing from the window so far,
    #    preferring never-checked oracle-carrying queries.  A module
    #    with NO never-checked queries left is skipped — re-greening
    #    an already-driver-checked query would cost a coverage slot.
    for m in sorted(REQUIRED_MODULES - chosen_mods):
        cands = [n for n in never if mod[n] == m and qs[n].oracle]
        cands = cands or [n for n in never if mod[n] == m]
        if cands:
            take(cands[0])

    # 3. fill remaining slots from the never-checked pool, always
    #    drawing from the module with the LARGEST remaining backlog
    #    (oracle-carrying first within each module) — the r7 verdict
    #    names the big modules (stats/aggregations, windows, scalars)
    #    as the coverage debt; round-robin gave them 1-2 slots each.
    by_mod: dict[str, list[str]] = {}
    for n in never:
        if n not in picks:
            by_mod.setdefault(mod[n], []).append(n)
    for m in by_mod:
        by_mod[m].sort(key=lambda n: (qs[n].oracle is None, n))
    while len(picks) < WINDOW - len(ANCHORS) and any(by_mod.values()):
        m = max(by_mod, key=lambda k: (len(by_mod[k]), k))
        take(by_mod[m].pop(0))

    # 4. post-closure: the never-checked pool no longer fills a
    #    window — spend leftover slots on RE-certification,
    #    least-recently-driver-checked first (ties by name), so every
    #    green row has bounded age and the registry recycles through
    #    the driver in full every ceil(443/50) ≈ 9 rounds.
    if len(picks) < WINDOW - len(ANCHORS):
        last = last_checked_round(repo)
        stale = sorted(
            (n for n in qs if n not in picks and n not in ANCHORS),
            key=lambda n: (last.get(n, 0), n),
        )
        for n in stale:
            # structural adjacency (registry twin annotation): a
            # rows-only query never rides alone — its oracle-checked
            # twin re-drives in the same window, right next to it.
            # Boundary rule (ADVICE r13): taking a rows-only query
            # into the LAST open slot would make the twin take() a
            # budget-capped no-op and break the contract — so a
            # rows-only query needs TWO free slots (unless its twin
            # is already aboard); otherwise it waits for the next
            # round's window rather than riding alone.
            needs_twin = (
                qs[n].oracle is None
                and qs[n].twin
                and qs[n].twin not in picks
                and qs[n].twin not in ANCHORS
            )
            free = WINDOW - len(ANCHORS) - len(picks)
            if needs_twin and free < 2:
                continue
            take(n)
            if needs_twin:
                take(qs[n].twin)
            if len(picks) >= WINDOW - len(ANCHORS):
                break

    window = list(ANCHORS) + picks
    assert len(window) == WINDOW, len(window)
    return window, checked, mod


def rotation_md(repo: str | None = None, files: list[str] | None = None) -> str:
    """The machine-generated worklist (guard-tested against drift).

    `files` pins the census inputs explicitly; the guard test passes
    the rounds named in the committed header so a fresh driver census
    dropped in AFTER the last regeneration (the driver writes
    CORRECTNESS_r{N}.json post-commit, every round) cannot make the
    committed file unreproducible at judge time.
    """
    if repo is None:
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if files is None:
        files = correctness_files(repo)
    checked = checked_names(repo, files)
    qs = all_queries()
    mod = {n: q.fn.__module__.rsplit(".", 1)[-1] for n, q in qs.items()}
    never = sorted(n for n in qs if n not in checked)
    rounds = sorted(os.path.basename(f) for f in files)
    by_mod: dict[str, list[str]] = {}
    for n in never:
        by_mod.setdefault(mod[n], []).append(n)
    lines = [
        "# ROTATION — driver-coverage worklist",
        "",
        "Generated by `tools/rotation.py --write` from "
        f"{' ∪ '.join(rounds)} ∪ the registry; do not edit by hand "
        "(tests/test_coverage_guard.py recomputes and diffs).",
        "",
        f"- registered queries: **{len(qs)}**",
        f"- driver-checked (≥1 CORRECTNESS row, any round): "
        f"**{len(checked & set(qs))}**",
        f"- never driver-checked: **{len(never)}**",
        "",
        "## Never-checked, by module",
        "",
    ]
    for m in sorted(by_mod):
        lines.append(f"- **{m}** ({len(by_mod[m])}): "
                     + ", ".join(f"`{n}`" for n in by_mod[m]))
    lines.append("")
    return "\n".join(lines)


def main() -> None:
    window, checked, _mod = build_window()
    print("_SHOWCASE: tuple[str, ...] = (")
    for n in window:
        print(f'    "{n}",')
    print(")")
    new = [n for n in window if n not in checked]
    print(f"# new-to-driver in this window: {len(new)}", file=sys.stderr)
    if "--write" in sys.argv:
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        out = os.path.join(repo, "ROTATION.md")
        with open(out, "w") as f:
            f.write(rotation_md())
        print(f"wrote {out}", file=sys.stderr)


if __name__ == "__main__":
    main()
