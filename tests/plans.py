"""Formatted-plan helpers shared by the plan tests and PLANS.md regeneration.

``plan_of`` prints a DataFrame's ``explain("formatted")``; ``exchanges``
parses its Exchange nodes; ``write_plans`` rewrites PLANS.md, keeping every
section whose plan differs only in run-specific ids.
"""

from __future__ import annotations

import io
import os
import re
from contextlib import redirect_stdout


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def exchanges(plan: str) -> list[tuple[int, str, str]]:
    """(node id, input columns, arguments) of every Exchange in a formatted
    plan."""
    return [(int(i), cols, args) for i, cols, args in re.findall(
        r"\((\d+)\) Exchange\nInput \[\d+\]: \[([^\]]*)\]\n"
        r"Arguments: ([^\n]*)", plan)]


def _masked(text: str) -> str:
    """``text`` with the ids that change from run to run blanked: expression
    ids, lambda variable numbers, plan and RDD ids, the warehouse dir."""
    text = re.sub(r"#\d+", "#", text)
    text = re.sub(r"(lambda [a-z]+)_\d+", r"\1_", text)
    text = re.sub(r"plan_id=\d+", "plan_id=", text)
    text = re.sub(r"RDD\[\d+\]", "RDD[]", text)
    return re.sub(r"plans_audit_wh_[^/\s]+", "plans_audit_wh_", text)


def _sections(text: str) -> dict[str, str]:
    """PLANS.md's ``## title`` sections by title, each with its body."""
    parts = re.split(r"^## ", text, flags=re.M)[1:]
    return {p.split("\n", 1)[0]: "## " + p for p in parts}


def write_plans(out: list[str], old_path: str) -> None:
    """Write ``out`` to ``old_path``, keeping each old section whose text is
    the same up to run-specific ids. Both opens use ``newline=""``: a plan
    can print a bare ``\\r`` (the whitespace class of a regex literal), which
    universal-newline reading would turn into ``\\n``, so an unchanged
    section would be rewritten."""
    new = "\n".join(out)
    if os.path.exists(old_path):
        with open(old_path, newline="") as f:
            old = _sections(f.read())
        head = new.split("\n## ", 1)[0]
        body = []
        for title, text in _sections(new).items():
            kept = old.get(title)
            keep = kept is not None and _masked(kept.rstrip()) == _masked(text.rstrip())
            body.append(kept.rstrip() + text[len(text.rstrip()):] if keep
                        else text)
        new = head + "\n" + "".join(body)
    with open(old_path, "w", newline="") as f:
        f.write(new)
