"""Every module-level engine ``def``/``class`` is reached from live code.

Live code is every ``@query`` function, every module-level engine statement
other than ``__all__``, ``job.py``, ``__spark_entry__.py`` and all of
``benchmark/``, and then the body of each engine function they reach,
transitively.  A function that only ``tests/`` call is a second code path
that no query runs: delete it, or move a test's own reference into
``tests/``.  References are resolved on the AST (names, attributes and
import aliases), so a docstring or comment that mentions a name does not
keep it alive."""

import ast
import pathlib

_ROOT = pathlib.Path(__file__).resolve().parents[1]
_LIVE_FILES = [_ROOT / "job.py", _ROOT / "__spark_entry__.py",
               *sorted((_ROOT / "benchmark").rglob("*.py"))]
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _modname(path):
    parts = path.relative_to(_ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imports(mod, is_pkg, nodes):
    """``{local name: dotted target}`` bound by the imports among ``nodes``."""
    table = {}
    for node in nodes:
        if isinstance(node, ast.Import):
            for a in node.names:
                head = a.name.partition(".")[0]
                table[a.asname or head] = a.name if a.asname else head
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                pkg = mod if is_pkg else mod.rpartition(".")[0]
                for _ in range(node.level - 1):
                    pkg = pkg.rpartition(".")[0]
                base = f"{pkg}.{base}" if base else pkg
            for a in node.names:
                table[a.asname or a.name] = f"{base}.{a.name}"
    return table


def _nodes(roots):
    """Every node under ``roots``: ``ast.walk`` without its generator
    overhead, which would be most of the test's run time."""
    out, stack = [], list(roots)
    while stack:
        n = stack.pop()
        out.append(n)
        for f in n._fields:
            v = getattr(n, f, None)
            if isinstance(v, list):
                stack.extend(x for x in v if isinstance(x, ast.AST))
            elif isinstance(v, ast.AST):
                stack.append(v)
    return out


def _is_all(node):
    targets = getattr(node, "targets", None) or [getattr(node, "target", None)]
    return any(isinstance(t, ast.Name) and t.id == "__all__" for t in targets)


def _is_query(fn):
    return any(isinstance(d, ast.Name) and d.id == "query"
               for d in getattr(fn, "decorator_list", ()))


class _Engine:
    """The parsed ``rsgislib_spark`` package and its module-level defs."""

    def __init__(self):
        self.trees, self.is_pkg = {}, {}
        for p in sorted((_ROOT / "rsgislib_spark").rglob("*.py")):
            m = _modname(p)
            self.trees[m] = ast.parse(p.read_text())
            self.is_pkg[m] = p.name == "__init__.py"
        self.defs = {(m, n.name): n for m, t in self.trees.items()
                     for n in t.body if isinstance(n, _DEFS)}
        self.top = {m: _imports(m, self.is_pkg[m], t.body)
                    for m, t in self.trees.items()}

    def target(self, dotted, depth=0):
        """The engine module (a str) or def (a (module, name) pair) that a
        dotted path names, followed through re-exports; None if neither."""
        if dotted in self.trees:
            return dotted
        mod, _, name = dotted.rpartition(".")
        if (mod, name) in self.defs:
            return (mod, name)
        if name in self.top.get(mod, {}) and depth < 8:
            return self.target(self.top[mod][name], depth + 1)
        return None

    def refs(self, mod, is_pkg, nodes):
        """Engine defs that ``nodes`` name through a Name, an Attribute
        chain on an engine module, or an import."""
        inner = _nodes(nodes)
        local = _imports(mod, is_pkg, inner)
        scope = {**self.top.get(mod, {}), **local}
        out = {self.target(t) for t in local.values()}
        for n in inner:
            chain = []
            while isinstance(n, ast.Attribute):
                chain.append(n.attr)
                n = n.value
            if not isinstance(n, ast.Name):
                continue
            cur = (self.target(scope[n.id]) if n.id in scope
                   else (mod, n.id) if (mod, n.id) in self.defs else None)
            for attr in reversed(chain):
                if not isinstance(cur, str):
                    break
                cur = self.target(f"{cur}.{attr}")
            out.add(cur)
        return {r for r in out if isinstance(r, tuple)}


def _unreached():
    eng = _Engine()
    todo = set()
    for m, tree in eng.trees.items():
        code = [n for n in tree.body
                if not isinstance(n, _DEFS) and not _is_all(n)]
        todo |= eng.refs(m, eng.is_pkg[m], code)
        todo |= {(m, n.name) for n in tree.body if _is_query(n)}
    for p in _LIVE_FILES:
        todo |= eng.refs(_modname(p), p.name == "__init__.py",
                         ast.parse(p.read_text()).body)
    live = set()
    while todo:
        key = todo.pop()
        live.add(key)
        todo |= eng.refs(key[0], eng.is_pkg[key[0]], [eng.defs[key]]) - live
    return sorted(f"{m}.{n}" for m, n in eng.defs.keys() - live)


def test_every_engine_def_is_reached_from_live_code():
    dead = _unreached()
    assert not dead, (f"{len(dead)} module-level engine defs are reached "
                      "only from tests:\n  " + "\n  ".join(dead))


def _unused_imports():
    """``module: name`` for every module-level engine import whose bound
    name its module never loads and does not list in ``__all__``."""
    out = []
    for p in sorted((_ROOT / "rsgislib_spark").rglob("*.py")):
        tree = ast.parse(p.read_text())
        nodes = _nodes(tree.body)
        loaded = {n.id for n in nodes
                  if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)}
        exported = set()
        for node in tree.body:
            if _is_all(node) and isinstance(node.value, (ast.List, ast.Tuple)):
                exported |= {e.value for e in node.value.elts
                             if isinstance(e, ast.Constant)}
        for node in tree.body:
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                for a in node.names:
                    name = a.asname or a.name.partition(".")[0]
                    if name not in loaded and name not in exported:
                        out.append(f"{_modname(p)}: {name}")
    return out


def test_every_engine_import_is_used():
    """An import the module never reads is dead weight, and it would count
    as a reference above, keeping an otherwise dead def alive."""
    unused = _unused_imports()
    assert not unused, ("module-level engine imports never used:\n  "
                        + "\n  ".join(unused))
