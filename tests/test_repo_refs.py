"""Every ``tools/<name>.py`` script cited in the package, the tests, the
README and the skill notes exists, so a deleted or renamed tool cannot
leave a docstring pointing at nothing."""

from __future__ import annotations

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
SCANNED = ("idb_backend_spark", "tests", "README.md", ".claude/skills")
CITE = re.compile(r"\btools/(\w+\.py)\b")


def dangling_tool_cites(root: Path, scanned=SCANNED) -> list[str]:
    """``file:line: cite`` for each cite of a tool missing from
    ``root/tools``."""
    files = []
    for name in scanned:
        p = root / name
        files += [p] if p.is_file() else sorted(
            f for f in p.rglob("*") if f.suffix in (".py", ".md"))
    out = []
    for f in files:
        for n, line in enumerate(f.read_text(errors="replace").splitlines(),
                                 1):
            out += [f"{f.relative_to(root)}:{n}: tools/{m}"
                    for m in CITE.findall(line)
                    if not (root / "tools" / m).is_file()]
    return out


def test_every_cited_tool_exists():
    assert dangling_tool_cites(ROOT) == []


def test_a_stale_cite_is_reported(tmp_path):
    # cites are assembled at run time so this file itself cites nothing
    kept, gone = "tools/" + "kept.py", "tools/" + "gone.py"
    (tmp_path / "tools").mkdir()
    (tmp_path / kept).write_text("")
    (tmp_path / "pkg").mkdir()
    (tmp_path / "pkg" / "mod.py").write_text(
        f'"""Measured with {kept} and\n{gone}."""\n')
    (tmp_path / "README.md").write_text(f"see `{kept}`\n")
    assert dangling_tool_cites(tmp_path, ("pkg", "README.md")) == [
        f"pkg/mod.py:2: {gone}"]
