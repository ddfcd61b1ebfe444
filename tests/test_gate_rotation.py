"""Gate-rotation invariants (the registration-order policy documented
in ``__spark_entry__.queries``):

1. every registered query carries a DuckDB oracle;
2. a query that has NEVER received a green driver verdict must sit
   inside the ~50-entry verdict-bearing prefix;
3. K-ROUND FRESHNESS (round-6 form; the round-5 verdict found the
   old K-1 window arithmetically infeasible at N=128): every parked
   query must be green within the last K = ceil(N/GATE_CAP) recorded
   rounds; the debt due next round must be payable in one prefix;
   and — once this round's registration is shipped — expiring
   entries must already sit inside it;
4. SOURCE STALENESS: a query whose defining function or oracle SQL
   changed since the last round's commit must re-enter the prefix —
   a stale verdict cannot cover modified code (round-4 advice). The
   fingerprint file ``GATE_SOURCES.json`` must also be current.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import subprocess

import pytest

GATE_CAP = 50
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _registered():
    import sys

    sys.path.insert(0, ROOT)
    import __spark_entry__ as entrymod

    return list(entrymod.queries().keys()), entrymod.oracle_sql()


def _rounds():
    """{round_number: {query: row}} for every recorded round."""
    out: dict[int, dict] = {}
    for path in glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        out[int(m.group(1))] = json.load(open(path))
    return out


def _is_green(row: dict) -> bool:
    # hash green, or the explicitly-accepted rows-only entries
    return bool(
        row.get("hash_match")
        or (row.get("err") == "no_oracle" and row.get("spark_rows"))
    )


def _green_in(rounds: dict[int, dict], rnd: int) -> set[str]:
    return {n for n, row in rounds.get(rnd, {}).items() if _is_green(row)}


def test_every_query_has_an_oracle():
    names, oracles = _registered()
    assert [n for n in names if n not in oracles] == []


def test_unverified_queries_sit_inside_the_gate_window():
    names, _ = _registered()
    rounds = _rounds()
    ever = set().union(*(_green_in(rounds, r) for r in rounds)) if rounds else set()
    stranded = [n for n in names[GATE_CAP:] if n not in ever]
    assert stranded == [], (
        f"queries past position {GATE_CAP} with no green driver verdict "
        f"in any recorded round: {stranded} — front-load them"
    )


def _k_window(names_total: int) -> int:
    """Minimal feasible freshness window: with N entries and a
    GATE_CAP-entry verdict prefix, a fair rotation re-verifies each
    entry every K = ceil(N / GATE_CAP) rounds, so the tightest
    enforceable bound is "green within the last K recorded rounds".
    (The pre-round-6 form used K-1, which is arithmetically
    infeasible once N > (K-1)·GATE_CAP — the round-5 verdict's
    finding #1: the test went red between rounds by design error,
    not by debt.)"""
    import math

    return max(2, math.ceil(names_total / GATE_CAP))


def _last_green(rounds: dict[int, dict], name: str) -> int | None:
    greens = [r for r in rounds if name in _green_in(rounds, r)]
    return max(greens) if greens else None


def test_rotation_freshness():
    """Every tail entry that has ever been verified must be green
    within the last K recorded rounds (K = minimal feasible window;
    never-verified entries are covered by
    test_unverified_queries_sit_inside_the_gate_window). This form is
    green at every point of a correct K-round rotation — including
    immediately after the driver records a round — and red exactly
    when an entry has actually exceeded K-round staleness."""
    names, _ = _registered()
    rounds = _rounds()
    if not rounds:
        pytest.skip("no recorded rounds")
    k = _k_window(len(names))
    recent = sorted(rounds)[-k:]
    fresh = set().union(*(_green_in(rounds, r) for r in recent))
    ever = set().union(*(_green_in(rounds, r) for r in rounds))
    stale = [n for n in names[GATE_CAP:] if n in ever and n not in fresh]
    assert stale == [], (
        f"tail entries whose last green verdict is older than the "
        f"last {k} recorded round(s) {recent}: {stale} — front-load "
        f"them this round"
    )


def _due_after_next(rounds: dict[int, dict], names: list[str],
                    k: int) -> list[str]:
    """Entries whose verdict leaves the K-window once the upcoming
    round records. The window is anchored on RECORDED rounds (the
    documented contract — see the registry tail in
    ``__spark_entry__.queries`` and ``test_rotation_freshness``), NOT
    on round numbers: after the next recording, the window is the
    last K-1 recorded rounds plus the upcoming one, so an entry stays
    fresh iff its last green round sits in ``sorted(rounds)[-(k-1):]``.
    The round-9 verdict found the old round-number form
    (``last_green < max(rounds) - k + 2``) assumes contiguous
    recording and mis-declared 90 entries due when the driver skipped
    round 8 — the true debt was 41 (the r6 block)."""
    survive = set(sorted(rounds)[-(k - 1):])
    due = []
    for n in names:
        g = _last_green(rounds, n)
        if g is None or g not in survive:
            due.append(n)
    return due


def test_rotation_debt_is_payable():
    """The debt the NEXT round's prefix must absorb — entries outside
    the current prefix whose verdict would fall out of the recorded-
    rounds K-window once the upcoming round records, plus
    never-verified entries outside the prefix — must fit in one
    GATE_CAP prefix. Red means the registration plan has accumulated
    more stale entries than one round can re-verify: unpayable debt,
    regardless of which round the check runs in."""
    names, _ = _registered()
    rounds = _rounds()
    if not rounds:
        pytest.skip("no recorded rounds")
    k = _k_window(len(names))
    prefix = set(names[:GATE_CAP])
    due = _due_after_next(
        rounds, [n for n in names if n not in prefix], k
    )
    assert len(due) <= GATE_CAP, (
        f"{len(due)} entries must enter the next round's prefix to "
        f"stay inside the {k}-round window, but the prefix holds "
        f"{GATE_CAP}: unpayable debt — registration outpaced "
        f"verification capacity. Due: {due}"
    )


def test_due_after_next_handles_skipped_rounds():
    """Regression for the round-9 red mark: the driver skipped
    recording round 8 (recorded rounds ..., 6, 7, 9), and the old
    round-number cutoff declared both the r6 AND r7 blocks due —
    90 entries, "unpayable" — when the recorded-rounds window keeps
    r7 fresh (post-recording window {7, 9, next}) and the true debt
    is the r6 block alone. The helper must anchor on recorded
    rounds, so a gap in the sequence costs nothing."""
    def rnd(greens):
        return {n: {"hash_match": True} for n in greens}

    # the round-8 shape: contiguous 5,6,7 then a skip, then 9
    rounds = {
        5: rnd(["a"]), 6: rnd(["b"]), 7: rnd(["c"]), 9: rnd(["d"]),
    }
    # k=3 → survives iff last green in the last 2 recorded rounds
    # {7, 9}; "a" (r5) and "b" (r6) are due, "c" (r7) and "d" (r9)
    # are not, "e" was never verified
    assert _due_after_next(rounds, ["a", "b", "c", "d", "e"], 3) == [
        "a", "b", "e",
    ]
    # contiguous recording gives the same answer as the old formula
    contiguous = {7: rnd(["c"]), 8: rnd(["x"]), 9: rnd(["d"])}
    assert _due_after_next(contiguous, ["c", "x", "d"], 3) == ["c"]


def _registration_updated_since_last_artifact() -> bool:
    """True when the builder has touched the registration after the
    latest driver artifact landed (commits after it, or uncommitted
    edits) — i.e. the prefix on disk is THIS round's shipped plan,
    not last round's leftover that the next artifact always outdates.

    An UNTRACKED newest artifact (the driver wrote it but the
    round-close commit hasn't happened yet) is the between-rounds
    state by definition: the registration on disk predates an
    artifact that exists only in the working tree, so the answer is
    False — unless the registration itself carries edits made after
    that artifact landed (uncommitted, or committed after the newest
    TRACKED artifact), which is the builder actively shipping the
    next round's plan."""
    rounds = _rounds()
    if rounds:
        newest = f"CORRECTNESS_r{max(rounds):02d}.json"
        tracked = _git("log", "--format=%H", "-n1", "--", newest).strip()
        if not tracked:
            # Driver artifact present but uncommitted. The shipped
            # registration predates it unless the builder has edited
            # the registration SINCE the artifact appeared on disk —
            # uncommitted (mtime) or committed (commit time). Note a
            # plain `log <last-tracked-artifact>..HEAD` check would
            # false-positive here: the PREVIOUS round's registration
            # commit is always newer than the previous artifact's
            # commit yet older than this untracked artifact.
            art_mtime = os.path.getmtime(os.path.join(ROOT, newest))
            reg = os.path.join(ROOT, "__spark_entry__.py")
            dirty = _git("status", "--porcelain", "--",
                         "__spark_entry__.py").strip()
            if dirty and os.path.getmtime(reg) > art_mtime:
                return True
            reg_ct = _git("log", "-n1", "--format=%ct", "--",
                          "__spark_entry__.py").strip()
            return bool(reg_ct) and int(reg_ct) > art_mtime
    base = _last_round_commit()
    if base is None:
        return True
    dirty = _git("status", "--porcelain", "--", "__spark_entry__.py")
    newer = _git("log", "--format=%H", f"{base}..HEAD", "--",
                 "__spark_entry__.py")
    return bool(dirty.strip() or newer.strip())


def test_expiring_debt_is_front_loaded():
    """Forcing function, evaluated against the registration the
    builder is actually shipping: once this round's registration
    exists, every entry that would violate the recorded-rounds
    K-window after the upcoming round records (last green outside
    ``sorted(rounds)[-(k-1):]``, or never verified) must sit inside
    the prefix. Skipped in the between-rounds state (registration
    older than the newest artifact), where the stale plan is by
    construction last round's — that state is judged by
    test_rotation_freshness / test_rotation_debt_is_payable, which
    hold at every point of a correct rotation."""
    names, _ = _registered()
    rounds = _rounds()
    if not rounds:
        pytest.skip("no recorded rounds")
    if not _registration_updated_since_last_artifact():
        pytest.skip("registration predates the newest driver artifact "
                    "(between-rounds state); debt payability is "
                    "checked by test_rotation_debt_is_payable")
    k = _k_window(len(names))
    missed = _due_after_next(rounds, names[GATE_CAP:], k)
    assert missed == [], (
        f"entries that exceed the {k}-round window after the upcoming "
        f"round records, yet sit outside the shipped prefix: {missed} "
        f"— front-load them"
    )


@functools.cache
def _is_git_checkout(root: str) -> bool:
    try:
        top = subprocess.run(
            ["git", "rev-parse", "--show-toplevel"], cwd=root,
            capture_output=True, text=True,
        )
    except OSError:
        return False
    return top.returncode == 0 and (
        os.path.realpath(top.stdout.strip()) == os.path.realpath(root)
    )


def _git(*args: str) -> str:
    """Run git in ROOT. The checks that read the registration's
    history skip, instead of failing, in a tree that is not a git
    checkout of its own (a ``git archive`` export): there is no
    history to judge against."""
    if not _is_git_checkout(ROOT):
        pytest.skip("no git history: the tree is not a git checkout "
                    "(e.g. a git archive export)")
    return subprocess.run(
        ["git", *args], cwd=ROOT, capture_output=True, text=True, check=True
    ).stdout


def _last_round_commit() -> str | None:
    """Commit that recorded the newest TRACKED round artifact.

    The driver may leave the latest CORRECTNESS_r*.json untracked
    until the round-close commit; fall back through older rounds so
    fingerprint comparisons always anchor at a real commit instead
    of silently returning None (the round-6 verdict's hole)."""
    rounds = _rounds()
    for r in sorted(rounds, reverse=True):
        path = f"CORRECTNESS_r{r:02d}.json"
        sha = _git("log", "--format=%H", "-n1", "--", path).strip()
        if sha:
            return sha
    return None


def test_guard_handles_untracked_newest_artifact(monkeypatch):
    """Round-6 verdict hole: a newest artifact the driver wrote but
    has not yet committed must read as the between-rounds state
    (guard False, forcing-function test skips), and the fingerprint
    anchor must fall back to the newest TRACKED artifact instead of
    None. If the builder then edits the registration after that
    artifact appeared, the guard flips True (actively shipping)."""
    import tests.test_gate_rotation as mod

    rounds = _rounds()
    if not rounds:
        pytest.skip("no recorded rounds")
    newest = f"CORRECTNESS_r{max(rounds):02d}.json"
    real_git = mod._git

    def fake_git(status_out, reg_commit_ct):
        def git(*args):
            if args[0] == "log" and args[-1] == newest:
                return ""  # artifact has no commit
            if args[0] == "status":
                return status_out
            if args[0] == "log" and "--format=%ct" in args:
                return reg_commit_ct
            return real_git(*args)

        return git

    # 1) clean registration, last registration commit BEFORE the
    #    artifact appeared → the canonical between-rounds state
    monkeypatch.setattr(mod, "_git", fake_git("", "1"))
    assert mod._registration_updated_since_last_artifact() is False
    assert mod._last_round_commit() is not None  # older round anchors

    # 2) uncommitted registration edits newer than the artifact →
    #    actively shipping
    monkeypatch.setattr(
        mod, "_git", fake_git(" M __spark_entry__.py\n", "1")
    )
    real_mtime = os.path.getmtime
    monkeypatch.setattr(
        mod.os.path, "getmtime",
        lambda p: real_mtime(p)
        + (1e9 if p.endswith("__spark_entry__.py") else 0),
    )
    assert mod._registration_updated_since_last_artifact() is True

    # 3) clean tree but the registration COMMIT postdates the
    #    artifact (rotate-then-commit mid-round, the round-7 review
    #    hole) → also actively shipping
    monkeypatch.setattr(mod, "_git", fake_git("", str(2**33)))
    assert mod._registration_updated_since_last_artifact() is True


def test_gate_sources_file_is_current():
    """GATE_SOURCES.json must match the hashes computed from the
    working tree — regenerate with ``python tools/gate_sources.py``
    after editing any query or oracle."""
    from tools.gate_sources import OUT, compute_hashes

    assert os.path.exists(OUT), "run python tools/gate_sources.py"
    on_disk = json.load(open(OUT))
    now = compute_hashes()
    diff = {n for n in set(on_disk) | set(now)
            if on_disk.get(n) != now.get(n)}
    assert diff == set(), (
        f"GATE_SOURCES.json is stale for {sorted(diff)} — "
        "run python tools/gate_sources.py"
    )


def test_gate_sources_deep_file_is_current():
    """GATE_SOURCES_DEEP.json (round 12 — the helper-inclusive
    fingerprint closing the round-11 spans gap) must match the working
    tree — regenerate with ``python tools/gate_sources.py``."""
    from tools.gate_sources import OUT_DEEP, compute_deep_hashes

    assert os.path.exists(OUT_DEEP), "run python tools/gate_sources.py"
    on_disk = json.load(open(OUT_DEEP))
    now = compute_deep_hashes()
    diff = {n for n in set(on_disk) | set(now)
            if on_disk.get(n) != now.get(n)}
    assert diff == set(), (
        f"GATE_SOURCES_DEEP.json is stale for {sorted(diff)} — "
        "run python tools/gate_sources.py"
    )


def test_deep_fingerprint_sees_helper_changes(monkeypatch):
    """The round-11 spans hole, mechanically closed: a change to a
    named helper (not the registered wrapper) must move the DEEP
    fingerprint. Simulated by monkeypatching the def registry so
    ``duplicate_spans``'s normalized dump differs — the
    doc_duplicate_spans deep hash must move while its primary hash
    stays put."""
    import tools.gate_sources as gs

    before = gs.compute_deep_hashes()["doc_duplicate_spans"]
    real = gs._package_defs

    def tampered():
        defs = real()
        assert "duplicate_spans" in defs  # the helper the gap hid
        defs["duplicate_spans"] = [
            (raw, dump + "~tampered") for raw, dump in
            defs["duplicate_spans"]
        ]
        return defs

    monkeypatch.setattr(gs, "_package_defs", tampered)
    after = gs.compute_deep_hashes()["doc_duplicate_spans"]
    assert after != before
    # the primary hash is helper-blind by design (documented
    # limitation) — the deep file exists precisely because of that
    assert gs.compute_hashes()["doc_duplicate_spans"] == \
        json.load(open(gs.OUT))["doc_duplicate_spans"]


def test_changed_helpers_reenter_the_gate_window():
    """Round-12 extension of the staleness gate: any tail entry whose
    DEEP fingerprint (defining fn + oracle + transitively referenced
    package defs, docstrings stripped) differs from the one recorded
    at the last round's commit must sit inside the prefix. Skips on
    rounds whose anchor commit predates GATE_SOURCES_DEEP.json (the
    deep file self-baselines in round 12)."""
    from tools.gate_sources import compute_deep_hashes

    base = _last_round_commit()
    if base is None:
        pytest.skip("no recorded rounds")
    try:
        old = json.loads(_git("show", f"{base}:GATE_SOURCES_DEEP.json"))
    except subprocess.CalledProcessError:
        pytest.skip("GATE_SOURCES_DEEP.json not recorded at the last "
                    "round's commit (first round with deep "
                    "fingerprints)")
    names, _ = _registered()
    now = compute_deep_hashes()
    parked_changed = [
        n for n in names[GATE_CAP:] if old.get(n) != now.get(n)
    ]
    assert parked_changed == [], (
        f"tail entries whose helper graph changed since the last "
        f"round: {parked_changed} — front-load them"
    )


def test_changed_queries_reenter_the_gate_window():
    """Any query whose source fingerprint differs from the one
    recorded at the last round's commit must sit inside the prefix —
    its old verdict no longer covers the code."""
    from tools.gate_sources import compute_hashes

    base = _last_round_commit()
    if base is None:
        pytest.skip("no recorded rounds")
    try:
        old = json.loads(_git("show", f"{base}:GATE_SOURCES.json"))
    except subprocess.CalledProcessError:
        pytest.skip("GATE_SOURCES.json not recorded at the last "
                    "round's commit (first round with this machinery)")
    names, _ = _registered()
    now = compute_hashes()
    parked_changed = [
        n for n in names[GATE_CAP:] if old.get(n) != now.get(n)
    ]
    assert parked_changed == [], (
        f"tail entries whose implementation/oracle changed since the "
        f"last round: {parked_changed} — front-load them"
    )


def test_deep_fingerprint_ignores_registration_order():
    """Deep fingerprints must be ROTATION-INVARIANT (round-12 fix):
    ``_package_defs`` must not resolve names against
    ``__spark_entry__.py``, whose ``queries``/``oracle_sql`` bodies
    encode the per-round front/tail rotation lists. Before the fix,
    four embedding entries' closures referenced the name ``queries``
    and their deep hashes flipped on every front rotation, spuriously
    forcing unrelated tail entries back through the gate."""
    import ast

    from tools.gate_sources import ROOT, _package_defs

    entry_path = os.path.join(ROOT, "__spark_entry__.py")
    text = open(entry_path).read()
    entry_defs = {
        node.name: ast.get_source_segment(text, node)
        for node in ast.parse(text).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef))
    }
    assert "queries" in entry_defs  # the registration surface exists
    defs = _package_defs()
    leaked = [
        name for name, src in entry_defs.items()
        for raw, _dump in defs.get(name, [])
        if raw == src
    ]
    assert leaked == [], (
        f"__spark_entry__ defs {leaked} leaked into the deep-"
        "fingerprint resolution registry — rotation edits would "
        "flip tail fingerprints"
    )


def test_round_plan_tool_agrees_with_the_rotation_helpers():
    """tools/round_plan.py (round 12) must stay a THIN printer over
    these helpers — it exists so round-plan notes are derived, never
    hand-summed. Smoke: it runs clean and its projected following-
    round debt equals the same derivation done inline.

    Skipped in the between-rounds state (round-12 verdict, What's
    wrong #1): when the newest CORRECTNESS artifact postdates the
    shipped registration, the on-disk plan is by construction LAST
    round's and round_plan correctly reports the unrotated front as
    red (rc=1) — the same guard test_expiring_debt_is_front_loaded
    uses. Once the builder touches the registration (actively
    shipping this round's rotation), the test runs for real and the
    tool must exit 0."""
    import io
    import sys as _sys

    if _rounds() and not _registration_updated_since_last_artifact():
        pytest.skip("registration predates the newest driver artifact "
                    "(between-rounds state); round_plan correctly "
                    "reports the unrotated front as due")

    sys_path = list(_sys.path)
    try:
        _sys.path.insert(0, os.path.join(ROOT, "tools"))
        import round_plan

        buf = io.StringIO()
        stdout = _sys.stdout
        _sys.stdout = buf
        try:
            rc = round_plan.main()
        finally:
            _sys.stdout = stdout
    finally:
        _sys.path[:] = sys_path
    out = buf.getvalue()
    assert rc == 0, out

    names, _ = _registered()
    rounds = _rounds()
    if not rounds:
        pytest.skip("no recorded rounds")
    k = _k_window(len(names))
    proj = dict(rounds)
    proj[max(rounds) + 1] = {
        n: {"hash_match": True} for n in names[:GATE_CAP]
    }
    due = _due_after_next(proj, names, k)
    assert f"must hold {len(due)}" in out, out

    # --emit-front (round 16): the paste-ready list must carry every
    # projected-due entry exactly once, in gate order (each entry at
    # its last-green round's CORRECTNESS key position — the order
    # every round's front has applied by hand)
    argv = list(_sys.argv)
    sys_path = list(_sys.path)
    try:
        _sys.path.insert(0, os.path.join(ROOT, "tools"))
        import round_plan

        _sys.argv = ["round_plan.py", "--emit-front"]
        buf = io.StringIO()
        stdout = _sys.stdout
        _sys.stdout = buf
        try:
            rc = round_plan.main()
        finally:
            _sys.stdout = stdout
    finally:
        _sys.argv = argv
        _sys.path[:] = sys_path
    out = buf.getvalue()
    assert rc == 0, out
    emitted = re.findall(r'^\s+"([a-z0-9_]+)",', out, re.M)
    assert sorted(emitted) == sorted(due), (emitted, due)
    for a, b in zip(emitted, emitted[1:]):
        ga, gb = _last_green(rounds, a), _last_green(rounds, b)
        if ga is None or gb is None:
            continue  # never-verified sort last; skip mixed pairs
        assert (ga, list(rounds[ga]).index(a)) <= \
               (gb, list(rounds[gb]).index(b)), (a, b)


def test_history_checks_skip_outside_a_git_checkout(monkeypatch, tmp_path):
    """A tree that is not a git checkout of its own (a ``git archive``
    export, even one unpacked inside another repository) has no
    registration history: the checks that read it must skip with
    that reason instead of raising CalledProcessError."""
    import tests.test_gate_rotation as mod

    subprocess.run(["git", "init", "-q", str(tmp_path)], check=True)
    (tmp_path / "export").mkdir()
    assert mod._is_git_checkout(str(tmp_path))
    assert not mod._is_git_checkout(str(tmp_path / "export"))

    monkeypatch.setattr(mod, "_is_git_checkout", lambda root: False)
    for test in (
        mod.test_expiring_debt_is_front_loaded,
        mod.test_changed_helpers_reenter_the_gate_window,
        mod.test_changed_queries_reenter_the_gate_window,
        mod.test_round_plan_tool_agrees_with_the_rotation_helpers,
        lambda: mod.test_guard_handles_untracked_newest_artifact(
            monkeypatch),
    ):
        with pytest.raises(pytest.skip.Exception, match="no git history"):
            test()
