"""Static guard for the scripts no other test runs (no Spark).

``tools/*.py``, ``bench.py``, ``__spark_entry__.py`` and ``perfbench/``
construct ``CrawlEngine`` by keyword.  A constructor parameter that is
renamed or retired would break them only when someone next runs them,
so every keyword they pass is checked against the signatures here.
"""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
TOOLS = sorted((ROOT / "tools").glob("*.py"))
CALLERS = TOOLS + [ROOT / "bench.py", ROOT / "__spark_entry__.py"] + sorted(
    (ROOT / "perfbench").glob("*.py")
)


def _engine_params() -> dict:
    """Parameter names of CrawlEngine.__init__ and CrawlEngine.resume,
    read from the source."""
    tree = ast.parse(
        (ROOT / "scalpel_ts_spark/plans/frontier.py").read_text()
    )
    (cls,) = [
        n for n in tree.body
        if isinstance(n, ast.ClassDef) and n.name == "CrawlEngine"
    ]
    out = {}
    for fn in cls.body:
        if isinstance(fn, ast.FunctionDef) and fn.name in ("__init__", "resume"):
            a = fn.args
            out[fn.name] = {x.arg for x in a.args + a.kwonlyargs}
    return out


def _dict_keys(tree: ast.AST) -> dict:
    """name -> keys for every ``name = dict(k=...)`` / ``{"k": ...}``
    assignment, so ``CrawlEngine(..., **name)`` splats are checked
    too."""
    out = {}
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Assign)
            and len(node.targets) == 1
            and isinstance(node.targets[0], ast.Name)
        ):
            continue
        v = node.value
        if (
            isinstance(v, ast.Call)
            and isinstance(v.func, ast.Name)
            and v.func.id == "dict"
        ):
            keys = {k.arg for k in v.keywords if k.arg is not None}
        elif isinstance(v, ast.Dict) and all(
            isinstance(k, ast.Constant) for k in v.keys
        ):
            keys = {k.value for k in v.keys}
        else:
            continue
        out.setdefault(node.targets[0].id, set()).update(keys)
    return out


def _engine_calls(tree: ast.AST):
    """(method, keyword) for every CrawlEngine(...) and
    CrawlEngine.resume(...) call."""
    splats = _dict_keys(tree)
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if isinstance(f, ast.Name) and f.id == "CrawlEngine":
            method = "__init__"
        elif (
            isinstance(f, ast.Attribute)
            and f.attr == "resume"
            and isinstance(f.value, ast.Name)
            and f.value.id == "CrawlEngine"
        ):
            method = "resume"
        else:
            continue
        for kw in node.keywords:
            if kw.arg is not None:
                yield method, kw.arg, node.lineno
            elif isinstance(kw.value, ast.Name):
                for key in sorted(splats.get(kw.value.id, ())):
                    yield method, key, node.lineno


def test_tools_compile():
    assert TOOLS
    for path in TOOLS:
        compile(path.read_text(), str(path), "exec")


def test_engine_keywords_exist():
    params = _engine_params()
    bad = []
    n_calls = 0
    for path in CALLERS:
        for method, kw, line in _engine_calls(ast.parse(path.read_text())):
            n_calls += 1
            if kw not in params[method]:
                bad.append(f"{path.relative_to(ROOT)}:{line} {method}({kw}=)")
    assert n_calls > 0  # the scan still finds the callers
    assert not bad, bad
