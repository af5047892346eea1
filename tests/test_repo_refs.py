"""Every file the code and the current docs name exists in the checkout.

Offline, no Spark. Two kinds of names are checked:

* a concrete script path, ``scripts/<name>.py`` or ``scripts/<name>.sh``;
* an upper-case root-level record or document, such as
  ``BENCH_LOCAL.json`` or ``CATALOG.md`` (a name right after a ``/``
  belongs to another directory and is skipped).

Glob and template forms (``ANN_RECALL_<tier>.json``, ``BENCH_r*.json``)
name no one file and do not match. The history files (``CHANGES.md``,
``ROADMAP.md``, ``VERDICT.md``, ``ADVICE.md``) may name deleted files
and are not scanned.
"""

from __future__ import annotations

import glob
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCANNED_DIRS = ("rust_etl_spark", "tests", "scripts")
SCANNED_FILES = ("bench.py", "README.md", "CLAUDE.md", "CATALOG.md", "SURVEY.md",
                 ".claude/skills/verify/SKILL.md")

SCRIPT_REF = re.compile(r"(?<![\w/.-])scripts/([\w-]+\.(?:py|sh))(?![\w<{*])")
ROOT_DOC_REF = re.compile(r"(?<![\w/.<{*-])([A-Z][A-Z0-9]*(?:_[A-Za-z0-9.]+)*\.(?:json|md))(?![\w<{*])")


def _scanned() -> list[str]:
    paths = [os.path.join(ROOT, f) for f in SCANNED_FILES]
    for d in SCANNED_DIRS:
        for ext in ("py", "sh"):
            paths += glob.glob(os.path.join(ROOT, d, "**", f"*.{ext}"), recursive=True)
    return sorted(p for p in paths if os.path.isfile(p))


def _dangling() -> list[str]:
    out = []
    for path in _scanned():
        with open(path, encoding="utf-8") as f:
            text = f.read()
        rel = os.path.relpath(path, ROOT)
        for m in SCRIPT_REF.finditer(text):
            if not os.path.isfile(os.path.join(ROOT, "scripts", m.group(1))):
                out.append(f"{rel}: scripts/{m.group(1)}")
        for m in ROOT_DOC_REF.finditer(text):
            if not os.path.isfile(os.path.join(ROOT, m.group(1))):
                out.append(f"{rel}: {m.group(1)}")
    return out


def test_patterns_match_concrete_names_only():
    text = ("see scripts/driver_sim.py, BENCH_LOCAL.json, ANN_RECALL_sf0.1.json and CATALOG.md; "
            "not scripts/<name>.py, ANN_RECALL_<tier>.json, BENCH_r*.json or perfbench/README.md")
    assert [m.group(1) for m in SCRIPT_REF.finditer(text)] == ["driver_sim.py"]
    assert [m.group(1) for m in ROOT_DOC_REF.finditer(text)] == [
        "BENCH_LOCAL.json", "ANN_RECALL_sf0.1.json", "CATALOG.md"]


def test_named_files_exist():
    assert _scanned(), "nothing scanned"
    dangling = _dangling()
    assert not dangling, "names of files not in the checkout:\n" + "\n".join(dangling)
