"""Every top-level def and class in ``genegraph_spark/`` is used by the
program: its name appears in the package, ``__spark_entry__.py``,
``scripts/`` or ``perfbench/`` outside its own definition. Code that only
tests reach is deleted, not kept."""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

# Kept although no program path uses them:
ALLOWED = {
    # reference implementations the Spark paths are tested against
    "link_entities", "mention_counts", "cosine_expr", "unparse_cnv_py", "unparse_hgvs_py",
    # the GDM corpus chain: its tests and oracle need the reference
    # source tree, so it stays until that tree is in the repository
    "transform_gdm", "find_hgnc_gene", "transform_chain", "stream_gdm_to_store",
}


def test_every_package_def_is_used_by_the_program():
    program = [
        *ROOT.glob("genegraph_spark/**/*.py"),
        ROOT / "__spark_entry__.py",
        *ROOT.glob("scripts/**/*.py"),
        *(p for p in ROOT.glob("perfbench/**/*.py") if "tests" not in p.parts),
    ]
    texts = {p: p.read_text() for p in program}
    uses = Counter(w for text in texts.values() for w in re.findall(r"\w+", text))
    unused = []
    for path, text in texts.items():
        if path.parts[len(ROOT.parts)] != "genegraph_spark":
            continue
        lines = text.splitlines()
        for node in ast.parse(text).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            own = "\n".join(lines[node.lineno - 1 : node.end_lineno])
            if node.name not in ALLOWED and uses[node.name] == re.findall(r"\w+", own).count(node.name):
                unused.append(f"{path.relative_to(ROOT)}:{node.lineno} {node.name}")
    assert not unused, "defined but used by no program code:\n" + "\n".join(unused)
