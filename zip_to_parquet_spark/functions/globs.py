"""Glob → regex compilation (reference B1, `wax::Glob` semantics).

The reference filters zip member names with wax globs
(/root/reference/src/builder.rs:31,170,180-183). We compile the same surface
(`*`, `**`, `?`, `[...]`, `{a,b}`) to an anchored regex usable with
``F.col(...).rlike`` — a Catalyst-native predicate that pushes next to the
scan — and with DuckDB's GLOB operator on the oracle side.

Divergence from the reference, by design (SURVEY.md §2 H): an invalid
pattern raises ``ValueError`` at plan time instead of panicking mid-job
(the reference `.unwrap()`s and its InvalidWaxGlob error is dead code).
"""

from __future__ import annotations

import re

__all__ = ["glob_to_regex"]


def glob_to_regex(pattern: str) -> str:
    """Compile a path glob to an anchored regex string.

    Semantics (wax-compatible subset):
      ``*``   any run of non-separator chars
      ``**``  any run including separators; ``**/`` = zero or more dirs
      ``?``   one non-separator char
      ``[ab]`` / ``[!ab]`` char class / negated class
      ``{a,b}`` alternation (no nesting)
    """
    if not pattern:
        raise ValueError("empty glob pattern")
    return "^" + _compile_body(pattern) + "$"


def _compile_body(pattern: str) -> str:
    out: list[str] = []
    i, n = 0, len(pattern)
    while i < n:
        c = pattern[i]
        if c == "*":
            if i + 1 < n and pattern[i + 1] == "*":
                i += 2
                if i < n and pattern[i] == "/":
                    # '**/' matches zero or more whole directory components.
                    out.append("(?:[^/]*/)*")
                    i += 1
                else:
                    out.append(".*")
            else:
                out.append("[^/]*")
                i += 1
        elif c == "?":
            out.append("[^/]")
            i += 1
        elif c == "[":
            j = i + 1
            if j < n and pattern[j] in "!^":
                j += 1
            if j < n and pattern[j] == "]":  # leading ']' is a literal
                j += 1
            while j < n and pattern[j] != "]":
                j += 1
            if j >= n:
                raise ValueError(f"unterminated character class in glob: {pattern!r}")
            cls = pattern[i + 1 : j]
            if cls.startswith("!"):
                cls = "^" + cls[1:]
            out.append("[" + cls + "]")
            i = j + 1
        elif c == "{":
            j = pattern.find("}", i)
            if j == -1:
                raise ValueError(f"unterminated alternation in glob: {pattern!r}")
            # Each alternative is itself a glob ('{*.txt,*.md}' is standard
            # wax usage) — compile recursively with the same rules rather
            # than re.escape-ing wildcards into literals.
            alts = pattern[i + 1 : j].split(",")
            out.append("(?:" + "|".join(_compile_body(a) for a in alts) + ")")
            i = j + 1
        else:
            out.append(re.escape(c))
            i += 1
    return "".join(out)
