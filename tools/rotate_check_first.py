"""Regenerate queries.py::_CHECK_FIRST for the next round's driver sweep.

The driver's correctness window records ~50 names per round, so each round
the head of the registry ordering must rotate to the next block of
never-driver-swept names (VERDICT r4's standing action). This tool makes
that a one-command edit:

    python tools/rotate_check_first.py            # print the next head
    python tools/rotate_check_first.py --write    # rewrite queries.py

Selection rule: the first 50 names, in registration order, that appear in
NO CORRECTNESS_r*.json. Names listed in --prioritize (comma-separated)
LEAD the head — they are kept even if already swept (a verdict-priority
re-check of a red row must be forceable; a warning lists any such names).
When fewer than 50 never-swept names remain, the head is padded with the
oldest swept ones. Every swept name the head holds, prioritized or padding,
is written to _CHECK_FIRST_RECHECK.

After rewriting, ALWAYS pre-verify the new head locally:

    python tools/driver_repro.py --sf /root/testdata/sf0.01 $(python \
        tools/rotate_check_first.py)
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WINDOW = 50


def load_swept() -> set[str]:
    swept: set[str] = set()
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for f in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        swept |= set(json.load(open(f)).keys())
    return swept


def latest_round() -> int:
    """Highest N among CORRECTNESS_r{N}.json files (0 if none)."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rounds = [
        int(m.group(1))
        for f in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))
        if (m := re.search(r"CORRECTNESS_r(\d+)\.json$", f))
    ]
    return max(rounds, default=0)


def staleness_verdict(
    head: list[str],
    swept: set[str],
    recheck: list[str],
    ack_round: int,
    latest: int,
) -> tuple[str, list[str]]:
    """Classify the committed head against the CORRECTNESS state.

    Returns (state, stale_names) where state is one of:
      - "ok":         head is current — no swept names besides the
                      explicitly recorded re-checks.
      - "fresh-drop": exactly ONE new CORRECTNESS round landed since the
                      head was written (the normal round-boundary window,
                      before rotation has run). Tolerated with a warning —
                      a freshly delivered driver file must not red an
                      untouched, fully-correct checkout (VERDICT r7 item 2).
      - "stale":      the head survived a second round without rotation,
                      OR it is nominally current but contains swept names
                      that were never declared as re-checks (hand-drift).
    """
    stale = [n for n in head if n in swept and n not in set(recheck)]
    if latest > ack_round + 1:
        return "stale", stale
    if latest == ack_round + 1:
        return ("fresh-drop", stale) if stale else ("ok", stale)
    return ("stale", stale) if stale else ("ok", stale)


def next_head(
    prioritize: list[str],
    swept: set[str] | None = None,
    registry: list[str] | None = None,
) -> list[str]:
    """`swept`/`registry` are injectable so the pad-with-oldest branch is
    unit-testable on a synthetic near-drained CORRECTNESS state (verdict
    r6 item 5); defaults read the real repo."""
    if registry is None:
        from angelo_bravo_etl_task_spark import queries as qmod

        registry = list(qmod.QUERIES)
    if swept is None:
        swept = load_swept()
    # registration order = QUERIES insertion order (pre-_CHECK_FIRST)
    never = [n for n in registry if n not in swept]
    unknown = [n for n in prioritize if n not in registry]
    if unknown:
        raise SystemExit(f"unknown --prioritize names: {unknown}")
    # Prioritize names stay in the head even if already swept — the caller
    # explicitly asked for them (e.g. re-verifying a previously red row,
    # the f12 round-6 case). Warn so a redundant re-check is deliberate.
    already = [n for n in prioritize if n in swept]
    if already:
        print(
            f"# note: prioritize names already driver-swept (kept in head "
            f"for re-check): {already}",
            file=sys.stderr,
        )
    pri = list(prioritize)
    if len(pri) > WINDOW:
        # a negative slice below would silently drop names from the END
        # of the never-swept list and overflow the head past WINDOW
        raise SystemExit(
            f"--prioritize lists {len(pri)} names; max is WINDOW={WINDOW}"
        )
    base = [n for n in never if n not in set(pri)][: WINDOW - len(pri)]
    head = pri + base
    if len(head) < WINDOW:
        # coverage debt drained below one window — pad with the oldest
        # swept names (registration order) so the driver re-confirms them
        head += [n for n in registry if n not in set(head)][
            : WINDOW - len(head)
        ]
    return head


def recheck_names(head: list[str], swept: set[str]) -> list[str]:
    """The already-swept names in ``head`` — prioritized re-checks and the
    pad — which the head declares so they do not read as hand-drift."""
    return sorted(set(head) & swept)


SENTINEL = "# end _CHECK_FIRST block (regenerated by rotate_check_first.py)"


def rewrite(head: list[str], recheck: list[str]) -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(repo, "angelo_bravo_etl_task_spark", "queries.py")
    src = open(path).read()
    start = src.index("_CHECK_FIRST: list[str] = [")
    if SENTINEL in src:
        end = src.index(SENTINEL, start) + len(SENTINEL)
    else:  # first write with metadata: old block ends at the list's ]
        end = src.index("\n]\n", start) + len("\n]")
    lines = [
        "_CHECK_FIRST: list[str] = [",
        "    # regenerated by tools/rotate_check_first.py — the next 50",
        "    # never-driver-swept names in registration order; pre-verify",
        "    # with tools/driver_repro.py before shipping the round",
    ]
    lines += [f'    "{n}",' for n in head]
    lines.append("]")
    lines.append("# Highest CORRECTNESS_r{N}.json acknowledged when the head")
    lines.append("# above was rotated; the round-boundary tripwire")
    lines.append("# (tests/test_evidence_doc.py) tolerates exactly ONE newer")
    lines.append("# round before going red.")
    lines.append(f"_CHECK_FIRST_ACK_ROUND: int = {latest_round()}")
    lines.append("# Already-swept names deliberately kept in the head for")
    lines.append("# re-certification (--prioritize, or padding once fewer")
    lines.append("# than 50 never-swept names remain); not hand-drift.")
    lines.append(f"_CHECK_FIRST_RECHECK: list[str] = {recheck!r}")
    lines.append(SENTINEL)
    open(path, "w").write(src[:start] + "\n".join(lines) + src[end:])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--write", action="store_true")
    ap.add_argument("--prioritize", default="")
    args = ap.parse_args()
    pri = [n for n in args.prioritize.split(",") if n]
    head = next_head(pri)
    if args.write:
        rewrite(head, recheck_names(head, load_swept()))
        print(f"# wrote {len(head)} names to queries.py::_CHECK_FIRST",
              file=sys.stderr)
    print(" ".join(head))


if __name__ == "__main__":
    main()
