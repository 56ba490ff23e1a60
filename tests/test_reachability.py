"""Every top-level def, class and module constant in ``baskerville_spark/``
has a production caller, every defaulted parameter of a public one is set
by a production call and left at its default by another, and every
parameter of a def in the package or a root file is read by its body.

The roots are the entry points: the CLI (``baskerville_spark/main.py``), the
gate table and driver API of ``__spark_entry__.py``, ``bench.py``,
``scripts/`` and ``perfbench/`` (its tests excluded). A walk over the source
ASTs starts at each root file's module-level statements, follows every name
a reached definition's body loads through the imports of its module, and
stops at code outside these files. Only loads count: a name that is merely
assigned, or mentioned in a docstring or comment, reaches nothing. A definition that only ``tests/``
reaches is either wired into an entry point, with a test there, or deleted
with its tests.

The walk over-approximates: a name bound by several imports in one module
reaches all of them, and reaching a class reaches all of its methods.

The parameter walk matches calls by callee name only. A defaulted parameter
of a public function, public method or ``__init__`` (called by its class's
name) is live when two calls to that name in the package or a root file
disagree about it. A field of a public ``@dataclass`` that has a default
and is not a ``ClassVar`` is a parameter of its class's ``__init__``:

- some call sets it: passes it, by keyword or by position, a literal that
  differs from the default in value or type (``ast.literal_eval``; ``3`` is
  not ``3.0``, ``1`` is not ``True``), any non-literal expression, or
  ``*args``/``**kwargs``;
- some call relies on the default: omits it, or passes
  ``*args``/``**kwargs``.

A call that spells out the default literal itself does neither: it would
not change if the default did.

A parameter no call sets is a knob with one value: a constant in the body
(a ``ClassVar`` for a dataclass field), or a module constant a test
monkeypatches when it needs another value. A parameter every call sets is
an input the caller owns: it loses its default and becomes required.
Either way the branches only the other values reached go.

A parameter its def never loads, in the body or in a nested def or lambda,
is dropped with its arguments. Exempt are ``self``/``cls``, names that
start with ``_`` (a callback's fixed signature), and the gate callables of
``__spark_entry__._GATES``, whose ``(spark, sf_dir)`` signature the driver
fixes. ``ALLOWED_PARAMS`` names each other exception with its reason.
"""

import ast
from pathlib import Path
from types import SimpleNamespace

ROOT = Path(__file__).resolve().parents[1]
PKG = "baskerville_spark"

# Definitions kept without a production caller, each with its reason.
ALLOWED = {
    # The exposition form the validation-path trace spine is to publish.
    ("baskerville_spark.runtime.metrics", "render_prometheus"),
}
# Defaulted parameters that production calls do not both set and leave at
# the default, and parameters their def never reads, each with its reason.
ALLOWED_PARAMS = {
    ("baskerville_spark.main", "main", "argv"):
        "test seam: the CLI tests pass the argument list instead of sys.argv",
    ("baskerville_spark.runtime.runner", "run_validation", "spark"):
        "unread; perfbench's validate_cold layer trace passes it as written",
    ("baskerville_spark.checks.uniqueness", "uniqueness_violations", "n_salt"):
        "unread; perfbench's validate_cold layer trace passes it as written",
    ("scripts.check_oracle", "type_check", "name"):
        "unread; perfbench's gates_slow check passes it positionally",
}
# Definitions an outside driver calls by name.
DRIVER_API = {"__spark_entry__": ("entry", "queries", "oracle_sql")}


def _module_name(path):
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _root_files():
    files = [ROOT / "__spark_entry__.py", ROOT / "bench.py", ROOT / PKG / "main.py"]
    files += sorted((ROOT / "scripts").glob("*.py"))
    files += [p for p in sorted((ROOT / "perfbench").rglob("*.py")) if "tests" not in p.parts]
    return files


class _Module:
    """One source file: what each top-level name is bound to, and the
    statements that bind it."""

    def __init__(self, path):
        self.tree = ast.parse(path.read_text(), str(path))
        self.defs = {}  # name -> [statement]: def, class or assignment
        self.imports = {}  # name -> {("mod", m) | ("def", m, attr)}
        self.body = []  # top-level statements that bind no name
        for stmt in self.tree.body:
            names = _bound_names(stmt)
            if names:
                for n in names:
                    self.defs.setdefault(n, []).append(stmt)
            elif not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                self.body.append(stmt)

    def resolve_imports(self, modules):
        for node in ast.walk(self.tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname:
                        self._bind(a.asname, ("mod", a.name))
                    else:
                        self._bind(a.name.split(".")[0], ("mod", a.name.split(".")[0]))
            elif isinstance(node, ast.ImportFrom):  # the code uses no relative imports
                for a in node.names:
                    full = f"{node.module}.{a.name}"
                    target = ("mod", full) if full in modules else ("def", node.module, a.name)
                    self._bind(a.asname or a.name, target)

    def _bind(self, name, target):
        self.imports.setdefault(name, set()).add(target)


def _bound_names(stmt):
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    targets = []
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, (ast.AnnAssign, ast.AugAssign)):
        targets = [stmt.target]
    return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]


def _dotted(node):
    """``a.b.c`` -> ["a", "b", "c"]; None if the chain does not start at a name."""
    parts = []
    while isinstance(node, ast.Attribute):
        parts.append(node.attr)
        node = node.value
    if not isinstance(node, ast.Name):
        return None
    return [node.id] + parts[::-1]


def _references(stmts):
    for stmt in stmts:
        for node in ast.walk(stmt):
            if isinstance(node, ast.Attribute):
                chain = _dotted(node)
                if chain:
                    yield chain
            elif isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                yield [node.id]


def _load():
    paths = {_module_name(p): p for p in sorted((ROOT / PKG).rglob("*.py"))}
    for p in _root_files():
        paths.setdefault(_module_name(p), p)
    modules = {name: _Module(p) for name, p in paths.items()}
    for m in modules.values():
        m.resolve_imports(modules)
    return modules


def unreached():
    """Sorted ``(module, name)`` of every package def, class and module-level
    assignment (dunder names aside) no root reaches."""
    modules = _load()
    seen, loaded = set(), set()
    work = []

    def load(mod):
        # Importing a module runs its unbound statements and its packages'.
        parts = mod.split(".")
        for i in range(1, len(parts) + 1):
            m = ".".join(parts[:i])
            if m in modules and m not in loaded:
                loaded.add(m)
                work.append((m, modules[m].body))

    def reach(mod, name, rest=()):
        """The name ``name`` (then attributes ``rest``) as seen from ``mod``."""
        m = modules.get(mod)
        if m is None:
            return
        if name in m.defs:
            if (mod, name) not in seen:
                seen.add((mod, name))
                load(mod)
                work.append((mod, m.defs[name]))
            return
        for target in m.imports.get(name, ()):
            if target[0] == "def":
                reach(target[1], target[2], rest)
            else:
                reach_module(target[1], rest)

    def reach_module(mod, rest):
        load(mod)
        if not rest:
            return
        sub = f"{mod}.{rest[0]}"
        if sub in modules:
            reach_module(sub, rest[1:])
        else:
            reach(mod, rest[0], rest[1:])

    for p in _root_files():
        mod = _module_name(p)
        load(mod)
        for name in DRIVER_API.get(mod, ()):
            reach(mod, name)
    while work:
        mod, stmts = work.pop()
        for chain in _references(stmts):
            reach(mod, chain[0], chain[1:])

    return sorted(
        (name, d)
        for name, m in modules.items()
        if name.split(".")[0] == PKG
        for d, stmts in m.defs.items()
        if not (d.startswith("__") and d.endswith("__"))
        and (name, d) not in seen
        and (name, d) not in ALLOWED
    )


def test_every_package_definition_has_a_production_caller():
    missing = unreached()
    assert not missing, "reached only from tests (delete, or wire into an entry point):\n" + "\n".join(
        f"  {m}.{d}" for m, d in missing
    )


def _dataclass_fields(cls):
    """(field, default node or None) of each ``__init__`` field of a
    ``@dataclass``, in order: ``ClassVar``s are not fields, and a
    ``field(default_factory=...)`` default is the call itself (no literal)."""
    for s in cls.body:
        if not (isinstance(s, ast.AnnAssign) and isinstance(s.target, ast.Name)):
            continue
        ann = s.annotation.value if isinstance(s.annotation, ast.Subscript) else s.annotation
        if _dotted(ann) in (["ClassVar"], ["typing", "ClassVar"]):
            continue
        default = s.value
        if isinstance(default, ast.Call) and _dotted(default.func) == ["field"]:
            kw = {k.arg: k.value for k in default.keywords}
            default = kw.get("default", default if "default_factory" in kw else None)
        yield s.target.id, default


def _defaulted_params(tree):
    """(qualname, callee name, parameter, position or None, default node)
    of each defaulted parameter of the module's public functions, public
    methods, ``__init__``s and public dataclass fields; the position skips
    ``self``, and keyword-only parameters have none."""
    fns = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            if not node.name.startswith("_"):
                fns.append((node.name, node.name, node, 0))
        elif isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
            if any(_dotted(getattr(d, "func", d)) == ["dataclass"] for d in node.decorator_list):
                for i, (name, default) in enumerate(_dataclass_fields(node)):
                    if default is not None:
                        yield f"{node.name}.__init__", node.name, name, i, default
            for m in node.body:
                if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)) and (
                    not m.name.startswith("_") or m.name == "__init__"
                ):
                    static = any(
                        isinstance(d, ast.Name) and d.id == "staticmethod"
                        for d in m.decorator_list
                    )
                    call = node.name if m.name == "__init__" else m.name
                    fns.append((f"{node.name}.{m.name}", call, m, 0 if static else 1))
    for qual, call, fn, skip in fns:
        a = fn.args
        pos = a.posonlyargs + a.args
        first = len(pos) - len(a.defaults)
        for i in range(first, len(pos)):
            yield qual, call, pos[i].arg, i - skip, a.defaults[i - first]
        for arg, default in zip(a.kwonlyargs, a.kw_defaults):
            if default is not None:
                yield qual, call, arg.arg, None, default


_NOT_LITERAL = object()


def _literal(node):
    try:
        return ast.literal_eval(node)
    except ValueError:
        return _NOT_LITERAL


def _calls(trees):
    """Callee name -> [(positional argument nodes, {keyword: node}, whether
    the call passes ``*args`` or ``**kwargs``)], one entry per call."""
    seen = {}
    for tree in trees:
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name is None:
                continue
            star = any(isinstance(x, ast.Starred) for x in node.args) or any(
                k.arg is None for k in node.keywords
            )
            pos = [x for x in node.args if not isinstance(x, ast.Starred)]
            seen.setdefault(name, []).append((pos, {k.arg: k.value for k in node.keywords if k.arg}, star))
    return seen


def _passes(call, param, pos, default):
    """What one call passes ``param``: ``"star"`` for ``*args``/``**kwargs``,
    ``"default"`` when it omits the parameter, ``"same"`` for the default
    literal itself, ``"other"`` for a literal of another value or type or
    any other expression."""
    args, kw, star = call
    if star:
        return "star"
    arg = kw.get(param)
    if arg is None and pos is not None and pos < len(args):
        arg = args[pos]
    if arg is None:
        return "default"
    value, dflt = _literal(arg), _literal(default)
    if value is _NOT_LITERAL or dflt is _NOT_LITERAL or type(value) is not type(dflt) or value != dflt:
        return "other"
    return "same"


def dead_defaults(modules=None):
    """Sorted ``(module, qualname, parameter)`` of every defaulted public
    parameter in the package that no production call sets to another value,
    or whose default no production call relies on."""
    modules = _load() if modules is None else modules
    trees = [m.tree for m in modules.values()]  # the package and the root files
    calls = _calls(trees)
    out = []
    for name, m in modules.items():
        if name.split(".")[0] != PKG:
            continue
        for qual, call, param, pos, default in _defaulted_params(m.tree):
            seen = {_passes(c, param, pos, default) for c in calls.get(call, ())}
            if "star" in seen or {"default", "other"} <= seen:
                continue
            if (name, qual, param) not in ALLOWED_PARAMS:
                out.append((name, qual, param))
    return sorted(out)


def test_every_defaulted_parameter_is_set_by_a_production_call():
    dead = dead_defaults()
    assert not dead, (
        "defaulted parameters production calls never set, or always set (make the first"
        " constants, the second required):\n"
        + "\n".join(f"  {m}.{q}({p})" for m, q, p in dead)
    )


def _gate_callables(modules):
    """Names of the callables in ``__spark_entry__._GATES``'s rows."""
    m = modules.get("__spark_entry__")
    for stmt in m.tree.body if m else ():
        if isinstance(stmt, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "_GATES" for t in stmt.targets
        ):
            return {row.elts[0].id for row in stmt.value.elts}
    return set()


def _defs(node, prefix=""):
    """(qualname, def) of every def under ``node``, nested ones included."""
    for child in ast.iter_child_nodes(node):
        if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            qual = prefix + child.name
            if not isinstance(child, ast.ClassDef):
                yield qual, child
            yield from _defs(child, qual + ".")
        else:
            yield from _defs(child, prefix)


def unread_params(modules=None):
    """Sorted ``(module, qualname, parameter)`` of every parameter of a def
    in the package or a root file that the def never loads."""
    modules = _load() if modules is None else modules
    gates = _gate_callables(modules)
    out = []
    for name, m in modules.items():
        for qual, fn in _defs(m.tree):
            if name == "__spark_entry__" and qual in gates:
                continue
            a = fn.args
            params = a.posonlyargs + a.args + a.kwonlyargs + [x for x in (a.vararg, a.kwarg) if x]
            loads = {n.id for s in fn.body for n in ast.walk(s) if isinstance(n, ast.Name)}
            for i, p in enumerate(params):
                if p.arg in loads or p.arg.startswith("_") or (i == 0 and p.arg in ("self", "cls")):
                    continue
                if (name, qual, p.arg) not in ALLOWED_PARAMS:
                    out.append((name, qual, p.arg))
    return sorted(out)


def test_every_parameter_is_read():
    unread = unread_params()
    assert not unread, "parameters their def never reads (drop them and their arguments):\n" + "\n".join(
        f"  {m}.{q}({p})" for m, q, p in unread
    )


def test_parameter_guard_compares_values():
    """A parameter whose only calls pass its own default is unset, one that
    every call passes, another value or the default spelled out, has a dead
    default; one call leaving the default and another setting it, or a
    ``**kw`` call, keep it. A dataclass field with a default is an
    ``__init__`` parameter; a ``ClassVar`` is not."""
    src = '''
def op(df, a=1, b="x", c=2.0, d=None, e=True):
    return df

def kw_only(df, *, f=3):
    return df

def one_value(df, g=1):
    return df

def two_values(df, h=1):
    return df

def spelled(df, k=1):
    return df

@dataclass(frozen=True)
class Cfg:
    n: int
    a: int = 1
    b: tuple = ()
    c: ClassVar[int] = 2
    d: dict = field(default_factory=dict)

def run(df, kw, y):
    op(df, a=1, b="x")
    op(df, 1, "x", c=2.5)
    op(df, d=y, e=True)
    kw_only(df, **kw)
    one_value(df, g=5)
    one_value(df, 5)
    two_values(df, h=2)
    two_values(df, 3)
    spelled(df, k=1)
    spelled(df, k=2)
    Cfg(3)
    Cfg(3, 2)
'''
    mod = f"{PKG}.synthetic"
    got = dead_defaults({mod: SimpleNamespace(tree=ast.parse(src))})
    assert got == [
        (mod, "Cfg.__init__", "b"), (mod, "Cfg.__init__", "d"),
        (mod, "one_value", "g"), (mod, "op", "a"), (mod, "op", "b"),
        (mod, "op", "e"), (mod, "spelled", "k"), (mod, "two_values", "h"),
    ]


def test_unread_parameter_guard():
    """A parameter no load in its def's body reaches is unread; a nested
    def or lambda reading it, ``self``, ``_``-prefixed names and the gate
    table's callables are exempt."""
    src = '''
def op(df, unused, used, _cb_arg, *args, **kw):
    return lambda: df[used] + len(args)

class Op:
    def method(self, x, y):
        def inner(z):
            return x
        return inner

def q1_gate(spark, sf_dir):
    return 1

def q2_helper(spark, sf_dir):
    return 2

_GATES = ((q1_gate, "SELECT 1"),)
'''
    mod = "__spark_entry__"
    got = unread_params({mod: SimpleNamespace(tree=ast.parse(src))})
    assert got == [
        (mod, "Op.method", "y"), (mod, "Op.method.inner", "z"), (mod, "op", "kw"),
        (mod, "op", "unused"), (mod, "q2_helper", "sf_dir"), (mod, "q2_helper", "spark"),
    ]


def test_no_tracked_source_hardcodes_the_checkout_path():
    """A script that puts a literal path on ``sys.path``, or names this
    checkout's absolute path, runs or writes another checkout's code from a
    second clone or a CI workdir; derive the root from ``__file__``."""
    import subprocess

    files = subprocess.run(
        ["git", "ls-files", "*.py"], cwd=ROOT, capture_output=True, text=True, check=True
    ).stdout.split()
    hits = []
    for f in files:
        if f.startswith("tests/data/"):
            continue
        for node in ast.walk(ast.parse((ROOT / f).read_text(), f)):
            if isinstance(node, ast.Call) and _dotted(node.func) in (
                ["sys", "path", "insert"], ["sys", "path", "append"]
            ):
                if any(isinstance(a, ast.Constant) and isinstance(a.value, str) for a in node.args):
                    hits.append(f"{f}:{node.lineno} literal sys.path entry")
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                if str(ROOT) in node.value:
                    hits.append(f"{f}:{node.lineno} names {ROOT}")
    assert not hits, "\n".join(hits)
