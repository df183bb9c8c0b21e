#!/usr/bin/env python
"""Print the current changed-key set and a suggested 50-key driver window.

VERDICT r4 ask #8: re-pinning ``set_priority`` at 121 keys should be
mechanical, not archaeological.  This reuses the window-policy test's own
closure logic (``tests/test_window_policy.py:compute_changed_keys``) so the
suggestion and the test verdict cannot disagree.

Usage::

    python scripts/window_pin.py            # report + suggested window
    python scripts/window_pin.py --list     # suggested window only, one per
                                            # line (paste into set_priority)
    python scripts/window_pin.py --blame    # per changed key: WHICH closure
                                            # unit changed and in which
                                            # commit, plus a unit-frequency
                                            # summary showing how much of
                                            # the debt is transitive (one
                                            # ubiquitous helper) vs real

Suggested-window ordering when more keys changed than the window holds:

1. never-driver-verified keys (no green row in any round), registry order —
   a key with zero driver history outranks one with a stale green row;
2. changed previously-green keys, oldest last-green round first (the row
   most likely to have rotted), then registry order.

Once the never-checked backlog is zero and few keys change per round
(VERDICT r9 ask #7), the top-up branch takes over and the suggestion IS
the oldest-green-first refresh rotation: changed keys first, then frozen
keys ordered by last-green round ascending — run this at round start and
paste the ``--list`` output into ``set_priority`` as the round's first
commit.
"""

from __future__ import annotations

import importlib.util
import signal
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

_spec = importlib.util.spec_from_file_location(
    "window_policy", REPO / "tests" / "test_window_policy.py"
)
_wp = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_wp)

WINDOW = _wp.WINDOW


def suggest() -> tuple[list[str], set[str], dict[str, int], list[str]]:
    changed, green, keys = _wp.compute_changed_keys()
    order = {k: i for i, k in enumerate(keys)}
    never = [k for k in keys if k in changed and k not in green]
    stale = sorted(
        (k for k in changed if k in green),
        key=lambda k: (green[k], order[k]),
    )
    suggestion = (never + stale)[:WINDOW]
    if len(changed) < WINDOW:
        # Top up with frozen keys, oldest green first, to spend every slot.
        frozen = sorted(
            (k for k in keys if k not in changed),
            key=lambda k: (green.get(k, 0), order[k]),
        )
        suggestion += frozen[: WINDOW - len(suggestion)]
    return suggestion, changed, green, keys


_blame_cache: dict[tuple[str, str], dict[str, tuple[str, str]]] = {}


def _unit_blame(rel: str, since_sha: str) -> dict[str, tuple[str, str]]:
    """def/bind name → (sha, subject) of the NEWEST commit after
    ``since_sha`` whose diff changed that unit in file ``rel``;
    ("worktree", "uncommitted") for units changed only in uncommitted
    edits. Walks only the commits git says touched the file."""
    if (rel, since_sha) in _blame_cache:
        return _blame_cache[(rel, since_sha)]
    log = _wp._git(
        "log", "--format=%h\x1f%s", f"{since_sha}..HEAD", "--", rel
    ).splitlines()
    shas = [ln.split("\x1f", 1) for ln in log if ln]
    wt = (REPO / rel).read_text() if (REPO / rel).exists() else None
    # newest → oldest content chain: worktree, each touching commit, base.
    chain: list[tuple[str, str, str | None]] = [("worktree", "uncommitted", wt)]
    for sha, subject in shas:
        chain.append((sha, subject, _wp._git_blob(sha, rel)))
    chain.append((since_sha, "(round base)", _wp._git_blob(since_sha, rel)))
    out: dict[str, tuple[str, str]] = {}
    for (sha, subject, new_src), (_, _, old_src) in zip(chain, chain[1:]):
        d, b, loose = _wp.diff_units(old_src, new_src)
        for name in set(d) | set(b):
            out.setdefault(name, (sha, subject))  # newest attribution wins
        if loose:
            # pseudo-unit "" = loose module-level statements (the file-level
            # fallback's trigger) so file-kind reasons blame a commit too.
            out.setdefault("", (sha, subject))
    _blame_cache[(rel, since_sha)] = out
    return out


def blame() -> None:
    changed, green, keys, reasons = _wp.compute_changed_keys(detail=True)
    stale = sorted(
        (k for k in changed if k in green), key=lambda k: (green[k], k)
    )
    from collections import Counter

    unit_freq: Counter = Counter()
    lines: list[str] = []
    for key in stale:
        parts = []
        for kind, f, name in reasons.get(key, []):
            if kind in ("def", "bind"):
                unit_freq[(kind, f, name)] += 1
                sha, subject = _unit_blame(f, _wp._round_commit(green[key])).get(
                    name, ("?", "?")
                )
                parts.append(f"{kind} {f}:{name} @ {sha} ({subject})")
            elif kind == "file":
                unit_freq[(kind, f, "")] += 1
                sha, subject = _unit_blame(f, _wp._round_commit(green[key])).get(
                    "", ("?", "?")
                )
                parts.append(f"{kind} {f} (loose stmt) @ {sha} ({subject})")
            else:
                unit_freq[(kind, f, "")] += 1
                parts.append(f"{kind} {f}")
        lines.append(f"  {key} [last green r{green[key]}]")
        lines.extend(f"      {p}" for p in parts)
    print(f"stale-closure keys: {len(stale)}")
    print("top flagging units (keys flagged ← unit):")
    for (kind, f, name), n in unit_freq.most_common(15):
        label = f"{kind} {f}" + (f":{name}" if name else "")
        print(f"  {n:3d} ← {label}")
    print("\nper-key blame:")
    print("\n".join(lines))


def main() -> None:
    if "--blame" in sys.argv:
        blame()
        return
    suggestion, changed, green, keys = suggest()
    if "--list" in sys.argv:
        print("\n".join(suggestion))
        return
    window = set(keys[:WINDOW])
    print(f"registry keys : {len(keys)}")
    print(f"changed keys  : {len(changed)} (window = {WINDOW})")
    never = sorted(k for k in changed if k not in green)
    print(f"  never driver-verified ({len(never)}): {never}")
    stale = sorted((k for k in changed if k in green), key=lambda k: green[k])
    for k in stale:
        print(f"  changed since r{green[k]}: {k}")
    ok_in = sorted(changed & window)
    bad_in = sorted(window - changed)
    print(f"current window: {len(ok_in)} changed / {len(bad_in)} frozen slots")
    sys.path.insert(0, str(REPO / "tests"))
    from test_window_policy import policy_verdict

    verdict = policy_verdict(changed, keys)
    print(f"  POLICY FAIL — {verdict}" if verdict else "  policy OK")
    print("\nsuggested window (use --list for paste-ready form):")
    for i, k in enumerate(suggestion):
        tag = "new" if k not in green else f"r{green[k]}"
        print(f"  {i + 1:2d}. {k}  [{tag}]")


if __name__ == "__main__":
    # A reader that closes early (`| head`) ends the report quietly, as it
    # does for any Unix filter, instead of with a BrokenPipeError traceback.
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)
    main()
