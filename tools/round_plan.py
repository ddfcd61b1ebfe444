"""Derive the NEXT round's rotation obligations from the recorded
CORRECTNESS files — the mechanization of the round-11 lesson ("the
pre-written count was wrong once already"): never hand-sum the due
set when writing a round-plan note; run this and paste its numbers.

Reuses the exact helpers ``tests/test_gate_rotation.py`` enforces in
CI (single source of truth for window anchoring, skipped-round
handling, and green semantics), so the printed plan can never
disagree with the tests.

Usage::

    python tools/round_plan.py [--emit-front]

Prints: recorded rounds and the K-window, per-round last-green block
sizes, the due set once the upcoming round records (in registration
order), how the CURRENT front covers it, and remaining spare slots.

``--emit-front`` (round 16) additionally prints the FOLLOWING
round's projected due block as a paste-ready Python list in GATE
ORDER — each entry ordered by its position in its last-green round's
CORRECTNESS file (the "front = due block in its last-green gate
order" policy every round has applied by hand; 50 names transcribed
manually is the error surface this removes). Spare slots, if any,
are noted for the session to assign.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "tests"))
    import test_gate_rotation as gr

    names, _ = gr._registered()
    rounds = gr._rounds()
    if not rounds:
        print("no recorded rounds — everything is first-verdict debt")
        return 0
    n_total = len(names)
    k = gr._k_window(n_total)
    recorded = sorted(rounds)
    print(f"registered: {n_total}  GATE_CAP: {gr.GATE_CAP}  "
          f"K = ceil(N/CAP) = {k}")
    print(f"recorded rounds: {recorded}  "
          f"current window: {recorded[-k:]}")

    last_green = {n: gr._last_green(rounds, n) for n in names}
    blocks: dict[int | None, int] = {}
    for g in last_green.values():
        blocks[g] = blocks.get(g, 0) + 1
    print("last-green block sizes:", {
        (f"r{g}" if g is not None else "never"): c
        for g, c in sorted(blocks.items(),
                           key=lambda kv: (kv[0] is None, kv[0]))
    })

    front = names[:gr.GATE_CAP]
    tail = names[gr.GATE_CAP:]
    due_tail = gr._due_after_next(rounds, tail, k)
    print(f"\nDUE once the upcoming round records (tail entries whose "
          f"verdict leaves the window, plus never-verified): "
          f"{len(due_tail)}")
    for n in due_tail:
        g = last_green[n]
        print(f"  {n}  (last green: {'r%d' % g if g else 'never'})")

    # the CURRENT front pre-pays whatever due entries it re-verifies
    due_now = gr._due_after_next(rounds, names, k)
    prepaid = [n for n in due_now if n in front]
    print(f"\ncurrent front: {len(front)} entries; re-verifies "
          f"{len(prepaid)} of the due set now")
    uncovered = [n for n in due_now if n not in front]
    if uncovered:
        print(f"DUE ENTRIES NOT IN THE FRONT (rotation tests red): "
              f"{uncovered}")
        return 1

    # PROJECTION for the round after the upcoming one: assume the
    # shipped front records green as round max(recorded)+1; an entry
    # then survives that FOLLOWING round iff its (projected) last
    # green sits in the last k-1 rounds of the projected sequence.
    projected_round = recorded[-1] + 1
    proj = dict(rounds)
    proj[projected_round] = {n: {"hash_match": True} for n in front}
    due_following = gr._due_after_next(proj, names, k)
    spare = gr.GATE_CAP - len(due_following)
    print(f"\nPROJECTED (front records green as "
          f"r{projected_round}): the FOLLOWING round's front must "
          f"hold {len(due_following)} → spare slots: {spare}")
    for n in due_following:
        g = last_green[n]
        print(f"  {n}  (last green: {'r%d' % g if g else 'never'})")
    if spare < 0:
        print("UNPAYABLE — registration outpaced verification "
              "capacity (test_rotation_debt_is_payable will be red)")
        return 1

    if "--emit-front" in sys.argv:
        # gate order: oldest-debt block first, each block in its
        # last-green round's CORRECTNESS key order (registration
        # order of that round — the order bench comparability
        # depends on); never-verified entries last, in
        # registration order
        def sort_key(n):
            g = last_green[n]
            if g is None:
                return (1, 0, names.index(n))
            return (0, g, list(rounds[g]).index(n))

        ordered = sorted(due_following, key=sort_key)
        print(f"\n--emit-front: projected r{projected_round + 1} "
              f"front ({len(ordered)} due + {spare} spare "
              f"slot{'s' if spare != 1 else ''} to assign):")
        print("    front = [")
        for n in ordered:
            g = last_green[n]
            print(f'        "{n}",  # last green '
                  f"{'r%d' % g if g else 'never (first verdict)'}")
        print("    ]")
    return 0


if __name__ == "__main__":
    try:
        raise SystemExit(main())
    except BrokenPipeError:  # `| head` closed the pipe — not an error
        os.dup2(os.open(os.devnull, os.O_WRONLY), sys.stdout.fileno())
        raise SystemExit(0)
