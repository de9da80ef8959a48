"""Every root-level record and every ``tools/*.py`` script that the code
and the standing docs name must exist in the working tree.

A deletion that leaves a dangling pointer behind (a docstring citing a
removed record, a doc pointing at a removed tool) fails here. CHANGES.md
and ROADMAP.md are history and may name files that are gone, so they
are not scanned.
"""

from __future__ import annotations

import os
import re
import subprocess

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DOCS = (
    "tools/ci.sh",
    ".claude/skills/verify/SKILL.md",
    "README.md",
    "COVERAGE.md",
    "SURVEY.md",
    "FIXTURES.md",
    "TESTDATA.md",
)

# A root-level record: an upper-case name, optionally round-suffixed, not
# part of a longer path or word (``.claude/skills/verify/SKILL.md`` is
# not a root-level name).
RECORD = re.compile(r"(?<![\w/.-])([A-Z][A-Z0-9_]*(?:_r\d+)?\.(?:md|json))\b")
TOOL = re.compile(r"(?<![\w/.-])(tools/\w+\.py)\b")


def _python_files() -> list[str]:
    out = subprocess.run(
        ["git", "ls-files", "*.py"], cwd=ROOT, capture_output=True, text=True, check=True
    ).stdout
    return out.split()


def _scanned() -> list[str]:
    return _python_files() + [d for d in DOCS if os.path.exists(os.path.join(ROOT, d))]


def test_named_records_and_tools_exist():
    files = _scanned()
    assert "__spark_entry__.py" in files and "README.md" in files
    dangling = []
    for rel in files:
        with open(os.path.join(ROOT, rel), encoding="utf-8") as f:
            text = f.read()
        for pat in (RECORD, TOOL):
            for m in pat.finditer(text):
                name = m.group(1)
                if not os.path.exists(os.path.join(ROOT, name)):
                    line = text.count("\n", 0, m.start()) + 1
                    dangling.append(f"{rel}:{line}: {name}")
    assert not dangling, "references to missing files:\n" + "\n".join(sorted(set(dangling)))


def test_record_pattern_matches_root_names_only():
    assert RECORD.findall("see SCALE.md and CORRECTNESS_r01.json") == [
        "SCALE.md", "CORRECTNESS_r01.json",
    ]
    assert RECORD.findall(".claude/skills/verify/SKILL.md") == []
    assert RECORD.findall("every CORRECTNESS_r*.json") == []
    assert TOOL.findall("run tools/check_oracle.py, not perfbench/tools/x.py") == [
        "tools/check_oracle.py",
    ]
