"""The package carries no code and no setting the program does not use.

``test_every_package_def_is_used_by_the_program``: every top-level def,
class, module constant and (non-dunder) method of a top-level class in
``genegraph_spark/`` is used by program code (the package,
``__spark_entry__.py``, ``scripts/`` or ``perfbench/``). A top-level name
is matched per module: its own module names it outside its definition, a
file imports it from that module, or a file reads it as ``alias.name``
with ``alias`` bound to that module (an alias a file binds to several
modules counts for each). Methods are matched by attribute name anywhere.
Comments and docstrings are not uses.

``test_every_defaulted_parameter_is_set_by_the_program``: every defaulted
parameter of a ``genegraph_spark/`` function is passed, by keyword or by
position, by some program call. A default no caller overrides is a
constant, and the branches only its other values reach are dead. A call
``g(**kw)`` inside ``def f(..., **kw)`` passes to ``g`` only the keywords
program calls pass to ``f``.
"""

from __future__ import annotations

import ast
import io
import re
import tokenize
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

PROGRAM = [
    *sorted(ROOT.glob("genegraph_spark/**/*.py")),
    ROOT / "__spark_entry__.py",
    *sorted(ROOT.glob("scripts/**/*.py")),
    *sorted(p for p in ROOT.glob("perfbench/**/*.py") if "tests" not in p.parts),
]

# Kept although no program path uses them:
ALLOWED = {
    # reference implementations the Spark paths are tested against
    "link_entities", "mention_counts", "cosine_expr", "unparse_cnv_py", "unparse_hgvs_py",
    # round-trip inverses of the serializers: tests compare the program's
    # output against its parse, and blank-node graphs up to isomorphism
    "parse_turtle", "parse_documents", "parse_rdfxml", "is_isomorphic",
    # the GDM corpus chain: its tests and oracle need the reference
    # source tree, so it stays until that tree is in the repository
    "transform_gdm", "find_hgnc_gene", "transform_chain", "stream_gdm_to_store",
    # package metadata
    "__version__",
}

# Defaulted parameters kept although no program call passes them:
ALLOWED_PARAMS = {
    # deployment paths
    "stream_mention_counts(out_dir)", "stream_windowed_events(out_dir)",
    "stream_dedup_events(out_dir)", "stream_user_running_totals(out_dir)",
    "clinsig_tables(resources_dir)", "clinvar_jsonld_model(resources_dir)",
    # the GDM corpus chain (see ALLOWED)
    "add_proband_scores(cap)", "transform_gdm_corpus(affiliations)",
    # physical layout of an on-disk index or store: recorded in its
    # metadata and checked (or adopted) when it is reopened
    "NamedGraphStore(n_buckets)",
    "MinhashIndex(k)", "MinhashIndex(n_hashes)", "MinhashIndex(n_bands)",
}

# Parameters that name an input column select no branch.
COLUMN = re.compile(r"(.*_)?cols?|src|dst|key|version")


def _code_words(text: str) -> list[tuple[int, str]]:
    """(line, word) for every word in the code tokens of ``text``: names and
    non-docstring strings, without comments and docstrings."""
    docstrings = {
        (node.body[0].lineno, node.body[0].col_offset)
        for node in ast.walk(ast.parse(text))
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
        and isinstance(node.body[0].value.value, str)
    }
    words = []
    for tok in tokenize.generate_tokens(io.StringIO(text).readline):
        if tok.type == tokenize.NAME or (tok.type == tokenize.STRING and tok.start not in docstrings):
            words += [(tok.start[0], w) for w in re.findall(r"\w+", tok.string)]
    return words


def _definitions(tree: ast.Module):
    """(name, node, is_method) for every top-level def, class, module
    constant and non-dunder method of a top-level class."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name, node, False
            for method in node.body if isinstance(node, ast.ClassDef) else []:
                if isinstance(method, (ast.FunctionDef, ast.AsyncFunctionDef)) and not (
                    method.name.startswith("__") and method.name.endswith("__")
                ):
                    yield method.name, method, True
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            for target in node.targets if isinstance(node, ast.Assign) else [node.target]:
                for name in ast.walk(target):
                    if isinstance(name, ast.Name):
                        yield name.id, node, False


def _module(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _module_uses(trees: dict[Path, ast.Module]) -> set[tuple[str, str]]:
    """(module, name) for every name a file imports from a module or reads
    as ``alias.name`` with ``alias`` bound to that module."""
    modules = {_module(p) for p in trees}
    uses = set()
    for path, tree in trees.items():
        package = _module(path) if path.name == "__init__.py" else _module(path).rpartition(".")[0]
        aliases: dict[str, set[str]] = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname and a.name in modules:
                        aliases.setdefault(a.asname, set()).add(a.name)
            elif isinstance(node, ast.ImportFrom):
                source = node.module or ""
                if node.level:
                    base = package.rsplit(".", node.level - 1)[0]
                    source = f"{base}.{source}" if source else base
                for a in node.names:
                    if f"{source}.{a.name}" in modules:
                        aliases.setdefault(a.asname or a.name, set()).add(f"{source}.{a.name}")
                    else:
                        uses.add((source, a.name))
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
                uses.update((m, node.attr) for m in aliases.get(node.value.id, ()))
    return uses


def test_every_package_def_is_used_by_the_program():
    trees = {p: ast.parse(p.read_text()) for p in PROGRAM}
    words = {p: _code_words(p.read_text()) for p in PROGRAM}
    uses = Counter(w for ws in words.values() for _, w in ws)
    imported = _module_uses(trees)
    unused = []
    for path in PROGRAM:
        if path.parts[len(ROOT.parts)] != "genegraph_spark":
            continue
        for name, node, is_method in _definitions(trees[path]):
            own = [node.lineno <= line <= node.end_lineno for line, w in words[path] if w == name]
            if is_method:
                used = uses[name] > sum(own)
            else:
                used = (_module(path), name) in imported or not all(own)
            if name not in ALLOWED and not used:
                unused.append(f"{path.relative_to(ROOT)}:{node.lineno} {name}")
    assert not unused, "defined but used by no program code:\n" + "\n".join(unused)


def _defaulted(tree: ast.Module):
    """(call name, positional index or None, parameter, def) for every
    defaulted parameter of every def in ``tree``. Methods are matched by
    attribute name with ``self`` dropped; ``__init__`` by its class name."""
    owner = {node: cls for cls in ast.walk(tree) if isinstance(cls, ast.ClassDef) for node in cls.body}
    for node in ast.walk(tree):
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        cls = owner.get(node)
        bound = cls is not None and not any(
            isinstance(d, ast.Name) and d.id == "staticmethod" for d in node.decorator_list
        )
        name = cls.name if cls is not None and node.name == "__init__" else node.name
        a = node.args
        positional = a.posonlyargs + a.args
        first = len(positional) - len(a.defaults)
        for i, arg in enumerate(positional[first:], first):
            yield name, i - bound, arg.arg, node
        for arg, default in zip(a.kwonlyargs, a.kw_defaults):
            if default is not None:
                yield name, None, arg.arg, node


def _call_name(call: ast.Call) -> str | None:
    func = call.func
    return func.id if isinstance(func, ast.Name) else getattr(func, "attr", None)


def _calls_by_def(tree: ast.Module):
    """(innermost enclosing def or None, call) for every call in ``tree``."""

    def visit(node, owner):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.Call):
                yield owner, child
            inner = child if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)) else owner
            yield from visit(child, inner)

    yield from visit(tree, None)


def test_every_defaulted_parameter_is_set_by_the_program():
    trees = {p: ast.parse(p.read_text()) for p in PROGRAM}
    passed = set()  # (call name, position or keyword)
    forwards = set()  # (g, f): g(**kw) inside def f(..., **kw)
    params = {}  # def name -> its named parameters
    for tree in trees.values():
        for owner, call in _calls_by_def(tree):
            name = _call_name(call)
            own_kw = owner.args.kwarg.arg if owner is not None and owner.args.kwarg else None
            for k in call.keywords:
                if k.arg is not None:
                    passed.add((name, k.arg))
                elif isinstance(k.value, ast.Name) and k.value.id == own_kw:
                    forwards.add((name, owner.name))
                    a = owner.args
                    params[owner.name] = {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs}
                else:
                    passed.add((name, "*"))
            if any(isinstance(a, ast.Starred) for a in call.args):
                passed.add((name, "*"))
            passed.update((name, i) for i in range(len(call.args)))
    # the keywords f's **kw collects reach g (and "*", a call of f with
    # unknown keywords, passes on as such); repeat for forwarding chains
    while True:
        more = {
            (g, kw)
            for g, f in forwards
            for name, kw in passed
            if name == f and isinstance(kw, str) and kw not in params[f]
        } - passed
        if not more:
            break
        passed |= more
    unset = []
    for path, tree in trees.items():
        if path.parts[len(ROOT.parts)] != "genegraph_spark":
            continue
        for name, pos, param, node in _defaulted(tree):
            used = passed & {(name, pos), (name, param), (name, "*")}
            kept = name in ALLOWED or COLUMN.fullmatch(param) or f"{name}({param})" in ALLOWED_PARAMS
            if not used and not kept:
                unset.append(f"{path.relative_to(ROOT)}:{node.lineno} {name}({param})")
    assert not unset, "defaulted parameters no program call passes:\n" + "\n".join(unset)
