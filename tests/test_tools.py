"""Every ``tools/<name>.py`` that the package, the tests, the tools or
the verify skill names must exist. A reference to a tool that is gone
from the tree is written as ``git show <rev>:tools/<name>.py``, which
this check skips. Needs no Spark session."""

from __future__ import annotations

import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCANNED = ("bigdatagenomic_spark", "tests", "tools", os.path.join(".claude", "skills"))
TOOL_REF = re.compile(r"(?<![\w:])tools/(\w+)\.py")


def _tool_refs():
    for top in SCANNED:
        for dirpath, _dirs, files in os.walk(os.path.join(ROOT, top)):
            for name in files:
                if not name.endswith((".py", ".md")):
                    continue
                path = os.path.join(dirpath, name)
                with open(path, encoding="utf-8") as f:
                    for lineno, line in enumerate(f, 1):
                        for m in TOOL_REF.finditer(line):
                            yield os.path.relpath(path, ROOT), lineno, m.group(1)


def test_named_tools_exist():
    refs = list(_tool_refs())
    assert refs, "no tools/<name>.py reference found; the scan is broken"
    dangling = [
        f"{path}:{lineno}: tools/{tool}.py"
        for path, lineno, tool in refs
        if not os.path.isfile(os.path.join(ROOT, "tools", f"{tool}.py"))
    ]
    assert not dangling, "references to missing tools:\n" + "\n".join(dangling)
