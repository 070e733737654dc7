"""The run commands the docs give must name scripts that exist."""

from __future__ import annotations

import re

from tests.conftest import REPO

_DOCS = ("README.md", ".claude/skills/verify/SKILL.md")
_SCRIPT_CMD = re.compile(r"\bpython3?\s+([\w./-]+\.py)\b")


def test_doc_commands_name_existing_scripts():
    cmds = [
        (doc, m.group(1))
        for doc in _DOCS
        for m in _SCRIPT_CMD.finditer((REPO / doc).read_text())
    ]
    assert cmds, "no `python <script>.py` command found in the docs"
    missing = [(doc, path) for doc, path in cmds if not (REPO / path).is_file()]
    assert not missing, f"docs name scripts that do not exist: {missing}"
