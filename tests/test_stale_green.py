"""Mechanics of the stale-green guard (tests/stale_green_check.py).

The guard's OUTPUT changes every round as verdicts land, so these tests
pin the machinery — reachability, docstring-insensitivity, git-state
resolution — not the live stale list. One anchored regression: the
round-7 hand-audited case (ivf queries reaching the rewritten
``ivf_assign``) must be visible to the reachability walk.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stale_green_check import (  # noqa: E402
    _PKG,
    _REPO,
    _FileInfo,
    latest_verdicts,
    reachable_symbols,
    stale_green,
    verified_states,
)


def test_reachability_crosses_files_via_imports():
    """The ivf_assign situation: a query module's registered function
    must reach the shared helper it imports from llmops.similarity —
    otherwise a helper rewrite is invisible and the guard is useless."""
    from convex_batch_processor_spark.queries import QUERIES

    spec = QUERIES["ivf_search_topk"]
    reach = reachable_symbols(spec.fn.__module__, spec.fn.__name__)
    mods = {f"{m}.{s}" for m, s in reach}
    assert f"{_PKG}.llmops.similarity.ivf_assign" in mods, sorted(mods)
    # and the walk starts at the function itself
    assert (spec.fn.__module__, spec.fn.__name__) in reach


def test_reachability_follows_function_local_imports():
    """Review r7 finding: lazy in-function imports (a common in-repo
    pattern for llmops loading) must be visible — grouped_map_zscore
    imports group_zscore INSIDE the function body."""
    from convex_batch_processor_spark.queries import QUERIES

    spec = QUERIES["grouped_map_zscore"]
    reach = reachable_symbols(spec.fn.__module__, spec.fn.__name__)
    mods = {f"{m}.{s}" for m, s in reach}
    assert f"{_PKG}.llmops.groupedmap.group_zscore" in mods, sorted(mods)


def test_attribute_assign_does_not_clobber_function_defs():
    """Review r7 finding: ``fn.__doc__ = ...`` at module level must not
    replace fn's FunctionDef entry — cosine_lsh_portable_neardup does
    exactly this and must still reach its llmops pipeline."""
    from convex_batch_processor_spark.queries import QUERIES

    spec = QUERIES["cosine_lsh_portable_neardup"]
    reach = reachable_symbols(spec.fn.__module__, spec.fn.__name__)
    mods = {f"{m}.{s}" for m, s in reach}
    assert f"{_PKG}.llmops.similarity.cosine_neardup_pairs_portable" in mods, (
        sorted(mods))


def test_fingerprints_ignore_docstrings_and_comments():
    """Two sources whose only difference is comments/docstrings must
    fingerprint identically; a code change must not."""
    import ast

    a = _FileInfo("def f(x):\n    '''old doc'''\n    return x + 1\n", "m")
    b = _FileInfo("# new comment\ndef f(x):\n    '''NEW doc'''\n    return x + 1\n", "m")
    c = _FileInfo("def f(x):\n    return x + 2\n", "m")
    dump = lambda i: ast.dump(i.defs["f"], include_attributes=False)  # noqa: E731
    assert dump(a) == dump(b)
    assert dump(a) != dump(c)


def test_verified_states_resolve_to_parent_commits():
    """Every CORRECTNESS round maps to a 40-char commit hash — the
    first parent of the commit that added the file (the code state the
    driver actually ran)."""
    states = verified_states()
    assert set(states) >= {1, 2, 3, 4, 5, 6}
    assert all(len(h) == 40 for h in states.values()), states


def test_latest_verdict_wins():
    """A name re-checked in a later round carries the later round.

    minhash_estimate_neardup was rows-only in r3, hash-green in r6 and
    re-verified since; every rotation may re-check it again, so the test
    derives the expected round from the CORRECTNESS files rather than
    pinning one."""
    import glob
    import json

    name = "minhash_estimate_neardup"
    rounds = []
    for path in glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json")):
        with open(path) as f:
            if name in json.load(f):
                rounds.append(int(os.path.basename(path)[len("CORRECTNESS_r"):-len(".json")]))
    assert len(rounds) >= 2, rounds  # re-checked, so "latest" is exercised
    assert latest_verdicts()[name] == max(rounds) >= 6


def test_stale_records_are_registered_and_explained():
    """Every stale record names a registered query and at least one
    changed symbol — the rotation builder consumes this list verbatim."""
    from convex_batch_processor_spark.queries import QUERIES

    for rec in stale_green():
        assert rec["name"] in QUERIES, rec
        assert rec["changed"], rec
        assert rec["round"] >= 1


def test_unresolvable_verdict_base_flags_stale(monkeypatch, capsys):
    """ADVICE r7: a name WITH a verdict whose round's base commit cannot
    be resolved (root commit, rewritten history) must be treated as
    STALE — unknown base = unverifiable coverage — not silently exempted
    via the 'backlog, not stale' branch."""
    import stale_green_check as sgc

    from convex_batch_processor_spark.queries import QUERIES

    real_states = verified_states()
    real_verdicts = latest_verdicts()
    # pick any REGISTERED verified name and pretend its round's base
    # commit is unresolvable
    victim = next(n for n in QUERIES if n in real_verdicts)
    rnd = real_verdicts[victim]
    broken = {r: h for r, h in real_states.items() if r != rnd}
    monkeypatch.setattr(sgc, "verified_states", lambda strict=False: broken)
    recs = {r["name"]: r for r in sgc.stale_green()}
    assert victim in recs, (victim, rnd)
    assert recs[victim]["changed"] == ["<unresolvable verdict base>"]
    assert "unresolvable" in capsys.readouterr().err


def test_untracked_current_round_verdicts_map_to_head(monkeypatch):
    """VERDICT r8 'what's wrong' #1: when the driver has just written
    CORRECTNESS_r{N}.json (file untracked, no adding-commit yet) and no
    TRACKED file is modified, round N's verdicts were issued against
    HEAD — verified_states must map them there, not fall through to the
    unresolvable-base stale fallback that flagged the whole fresh window.

    The mapping additionally requires HEAD to PREDATE the verdicts file
    (ADVICE r9): here HEAD was committed before the file was written."""
    import os

    import stale_green_check as sgc

    head = "a" * 40

    def fake_git(*args):
        if args[0] == "log":
            return ""  # no commit ever added the file
        if args[0] == "ls-files":
            return ""  # untracked
        if args[0] == "status":
            return ""  # no tracked modifications
        if args[0] == "show":
            return "1000\n"  # HEAD committed at t=1000 ...
        if args[0] == "rev-parse":
            return head + "\n"
        raise AssertionError(f"unexpected git call: {args}")

    monkeypatch.setattr(sgc, "_git", fake_git)
    monkeypatch.setattr(
        sgc.glob, "glob",
        lambda p: [os.path.join(sgc._REPO, "CORRECTNESS_r99.json")],
    )
    monkeypatch.setattr(
        sgc.os.path, "getmtime", lambda p: 2000.0  # ... file written after
    )
    assert sgc.verified_states() == {99: head}


def test_untracked_correctness_with_newer_commits_stays_unresolved(
        monkeypatch, capsys):
    """ADVICE r9: commits landing AFTER the driver run while the verdicts
    file stays untracked must NOT map the verdicts to the newer HEAD —
    that would silently mask genuinely stale-green entries and distort
    --next-window. HEAD committed at t=3000 > file mtime t=2000 means the
    base is unresolvable: warn and leave the round unmapped (stale_green
    then conservatively flags its names)."""
    import os

    import stale_green_check as sgc

    def fake_git(*args):
        if args[0] == "log":
            return ""
        if args[0] == "ls-files":
            return ""
        if args[0] == "status":
            return ""
        if args[0] == "show":
            return "3000\n"  # HEAD postdates the verdicts file
        raise AssertionError(f"unexpected git call: {args}")

    monkeypatch.setattr(sgc, "_git", fake_git)
    monkeypatch.setattr(
        sgc.glob, "glob",
        lambda p: [os.path.join(sgc._REPO, "CORRECTNESS_r99.json")],
    )
    monkeypatch.setattr(sgc.os.path, "getmtime", lambda p: 2000.0)
    assert sgc.verified_states() == {}
    assert "HEAD postdates" in capsys.readouterr().err


def test_untracked_correctness_with_dirty_tree_stays_unresolved(monkeypatch):
    """The at-HEAD mapping must require a clean tracked tree: with
    tracked modifications we cannot prove the edits postdate the driver
    run, so the conservative unresolvable-base path must keep winning."""
    import os

    import stale_green_check as sgc

    def fake_git(*args):
        if args[0] == "log":
            return ""
        if args[0] == "ls-files":
            return ""
        if args[0] == "status":
            return " M convex_batch_processor_spark/catalog.py\n"
        raise AssertionError(f"unexpected git call: {args}")

    monkeypatch.setattr(sgc, "_git", fake_git)
    monkeypatch.setattr(
        sgc.glob, "glob",
        lambda p: [os.path.join(sgc._REPO, "CORRECTNESS_r99.json")],
    )
    assert sgc.verified_states() == {}


def test_strict_mode_refuses_untracked_verdicts(monkeypatch):
    """VERDICT r10 #4 (the commits-after-driver-run case): rotation
    derivation must never rest on the mtime heuristic. In strict mode an
    untracked verdicts file with no .base sidecar ABORTS with the
    commit-it instruction — even when the heuristic WOULD have mapped it
    to HEAD (clean tree, mtime after HEAD's committer time) — because a
    later commit with an odd mtime would silently pick the wrong base."""
    import os

    import pytest

    import stale_green_check as sgc

    def fake_git(*args):
        if args[0] == "log":
            return ""
        if args[0] == "ls-files":
            return ""  # untracked
        raise AssertionError(f"unexpected git call: {args}")

    monkeypatch.setattr(sgc, "_git", fake_git)
    monkeypatch.setattr(
        sgc.glob, "glob",
        lambda p: [os.path.join(sgc._REPO, "CORRECTNESS_r99.json")],
    )
    with pytest.raises(SystemExit, match="recorded state"):
        sgc.verified_states(strict=True)


def test_sidecar_base_resolves_untracked_verdicts(monkeypatch, tmp_path):
    """A CORRECTNESS_r{N}.json.base sidecar naming the driver-run commit
    resolves the round from RECORDED state — strict mode included, no
    git-history or mtime involvement."""
    import stale_green_check as sgc

    base = "b" * 40
    vfile = tmp_path / "CORRECTNESS_r99.json"
    vfile.write_text("{}")
    (tmp_path / "CORRECTNESS_r99.json.base").write_text(base + "\n")

    def fake_git(*args):
        if args[0] == "rev-parse" and args[1] == "--verify":
            assert args[2] == base + "^{commit}"
            return base + "\n"
        if args[0] == "log":
            return ""  # untracked: no ADD commit to cross-check against
        raise AssertionError(f"unexpected git call: {args}")

    monkeypatch.setattr(sgc, "_git", fake_git)
    monkeypatch.setattr(sgc.glob, "glob", lambda p: [str(vfile)])
    assert sgc.verified_states(strict=True) == {99: base}


def test_sidecar_disagreeing_with_add_commit_prefers_git(
    monkeypatch, tmp_path, capsys
):
    """ADVICE r11: once the verdicts file is COMMITTED, the git
    ADD-commit parent is the stronger record — a stale or hand-edited
    sidecar naming a different commit must be overridden (with a
    warning), not silently trusted. A sidecar AGREEING with the git
    parent stays accepted silently."""
    import stale_green_check as sgc

    side = "b" * 40
    parent = "c" * 40
    vfile = tmp_path / "CORRECTNESS_r99.json"
    vfile.write_text("{}")
    (tmp_path / "CORRECTNESS_r99.json.base").write_text(side + "\n")

    def fake_git(*args):
        if args[0] == "rev-parse" and args[1] == "--verify":
            return side + "\n"
        if args[0] == "log":
            return "a" * 40 + " " + parent + "\n"
        raise AssertionError(f"unexpected git call: {args}")

    monkeypatch.setattr(sgc, "_git", fake_git)
    monkeypatch.setattr(sgc.glob, "glob", lambda p: [str(vfile)])
    assert sgc.verified_states(strict=True) == {99: parent}
    assert "preferring the git-derived" in capsys.readouterr().err

    # agreement: sidecar == ADD parent -> accepted, no warning
    (tmp_path / "CORRECTNESS_r99.json.base").write_text(parent + "\n")

    def fake_git2(*args):
        if args[0] == "rev-parse" and args[1] == "--verify":
            return parent + "\n"
        if args[0] == "log":
            return "a" * 40 + " " + parent + "\n"
        raise AssertionError(f"unexpected git call: {args}")

    monkeypatch.setattr(sgc, "_git", fake_git2)
    assert sgc.verified_states(strict=True) == {99: parent}
    assert "preferring" not in capsys.readouterr().err


def test_garbage_sidecar_is_ignored_not_trusted(monkeypatch, capsys):
    """A sidecar that is not a full commit hash — garbage OR a symbolic
    ref like 'HEAD' or a branch name (which would re-resolve to a
    DIFFERENT commit as history moves: a silently moving verdict base) —
    must warn and fall through to the normal resolution path, never
    silently pin a bogus or moving base."""
    import stale_green_check as sgc

    import os
    import tempfile

    for bad in ("not-a-commit", "HEAD", "main", "B" * 40):  # hex is lower
        with tempfile.TemporaryDirectory() as td:
            vfile = os.path.join(td, "CORRECTNESS_r99.json")
            with open(vfile, "w") as f:
                f.write("{}")
            with open(vfile + ".base", "w") as f:
                f.write(bad + "\n")

            def fake_git(*args):
                if args[0] == "log":
                    return "c" * 40 + " " + "d" * 40 + "\n"
                # rev-parse must NEVER run for a non-hex sidecar
                raise AssertionError(f"unexpected git call: {args}")

            monkeypatch.setattr(sgc, "_git", fake_git)
            monkeypatch.setattr(sgc.glob, "glob", lambda p, v=vfile: [v])
            # falls through to the adding-commit parent
            assert sgc.verified_states() == {99: "d" * 40}, bad
            assert "full 40-hex commit hash" in capsys.readouterr().err


def test_strict_mode_refuses_staged_but_uncommitted_verdicts(monkeypatch):
    """The completeness backstop: a verdicts file that is TRACKED (e.g.
    `git add`ed) but has no ADD commit resolves no base via the
    adding-commit path and skips the untracked branch — strict mode must
    still abort instead of silently omitting the round (which would
    flood --next-window with '<unresolvable verdict base>' requeues)."""
    import os

    import pytest

    import stale_green_check as sgc

    def fake_git(*args):
        if args[0] == "log":
            return ""  # no commit ever added the file
        if args[0] == "ls-files":
            return "CORRECTNESS_r99.json\n"  # staged: tracked
        if args[0] == "status":
            return ""  # clean tree (the heuristic still must not fire)
        raise AssertionError(f"unexpected git call: {args}")

    monkeypatch.setattr(sgc, "_git", fake_git)
    monkeypatch.setattr(
        sgc.glob, "glob",
        lambda p: [os.path.join(sgc._REPO, "CORRECTNESS_r99.json")],
    )
    with pytest.raises(SystemExit, match="recorded state"):
        sgc.verified_states(strict=True)
