"""Import integrity without executing anything: every
``extract_cbd_shape_spark`` import in the package, the tests, the tools,
perfbench and the top-level scripts names a module that exists and, for
``from ... import name``, a name defined at the top level of that module
(or a submodule of that package). String constants that are themselves
Python programs (a script's embedded per-job runner) are checked the same
way. Scripts under ``tools/`` run in no other test, so
a deleted module or function would otherwise leave a dangling import
there."""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "extract_cbd_shape_spark"
SOURCES = [PKG, "tests", "tools", "perfbench", "__spark_entry__.py"]


def _py_files():
    for src in SOURCES:
        path = os.path.join(ROOT, src)
        if os.path.isfile(path):
            yield path
            continue
        for root, _dirs, files in os.walk(path):
            for fn in files:
                if fn.endswith(".py"):
                    yield os.path.join(root, fn)


def _module_file(module):
    """Source file of a package module, or None when it does not exist."""
    base = os.path.join(ROOT, *module.split("."))
    for cand in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(cand):
            return cand
    return None


def _top_level_names(path):
    names = set()

    def visit(stmts):
        for node in stmts:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                names.add(node.name)
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = (node.targets if isinstance(node, ast.Assign)
                           else [node.target])
                for t in targets:
                    names.update(n.id for n in ast.walk(t)
                                 if isinstance(n, ast.Name))
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                names.update((a.asname or a.name).split(".")[0]
                             for a in node.names)
            elif isinstance(node, (ast.If, ast.Try)):
                visit(node.body)
                visit(node.orelse)
                for h in getattr(node, "handlers", ()):
                    visit(h.body)
                visit(getattr(node, "finalbody", ()))

    with open(path) as f:
        visit(ast.parse(f.read()).body)
    return names


def _package_of(path):
    rel = os.path.relpath(path, ROOT)[:-len(".py")].split(os.sep)
    return rel[:-1]


def _trees(path):
    """The file's AST plus the ASTs of embedded program strings."""
    with open(path) as f:
        tree = ast.parse(f.read(), filename=path)
    yield tree
    for node in ast.walk(tree):
        if (isinstance(node, ast.Constant) and isinstance(node.value, str)
                and PKG in node.value and "import" in node.value):
            try:
                yield ast.parse(node.value)
            except SyntaxError:  # prose, not a program
                pass


def test_package_imports_resolve():
    problems = []
    for path in _py_files():
        where = os.path.relpath(path, ROOT)
        for node in (n for t in _trees(path) for n in ast.walk(t)):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.name.split(".")[0] == PKG and not _module_file(a.name):
                        problems.append(f"{where}:{node.lineno}: no module {a.name}")
            elif isinstance(node, ast.ImportFrom):
                if node.level:
                    pkg = _package_of(path)
                    pkg = pkg[:len(pkg) - node.level + 1]
                    module = ".".join(pkg + ([node.module] if node.module else []))
                else:
                    module = node.module or ""
                if module.split(".")[0] != PKG:
                    continue
                mfile = _module_file(module)
                if mfile is None:
                    problems.append(f"{where}:{node.lineno}: no module {module}")
                    continue
                defined = _top_level_names(mfile)
                for a in node.names:
                    if a.name == "*" or a.name in defined:
                        continue
                    if _module_file(f"{module}.{a.name}"):
                        continue
                    problems.append(
                        f"{where}:{node.lineno}: {module} has no {a.name}")
    assert not problems, "\n".join(problems)
