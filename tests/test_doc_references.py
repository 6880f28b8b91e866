"""Dangling-reference guard: every ``tools/<name>.py`` script cited in the
package sources, bench.py, the tools themselves or README.md must exist,
so a deleted tool cannot leave a docstring pointing readers at a file
they cannot run."""

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
_CITE = re.compile(r"(?<![\w/.])tools/[\w*]+\.py")


def test_cited_tool_scripts_exist():
    sources = [ROOT / "README.md", ROOT / "bench.py",
               *(ROOT / "tools").glob("*.py"),
               *(ROOT / "counsel_data_pipeline_spark").rglob("*.py")]
    missing = [
        f"{src.relative_to(ROOT)}: {cite}"
        for src in sources
        for cite in _CITE.findall(src.read_text(encoding="utf-8"))
        if not any(ROOT.glob(cite))
    ]
    assert not missing, f"cited tool scripts do not exist: {missing}"
