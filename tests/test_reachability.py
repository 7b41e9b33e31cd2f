"""Every public operator has a consumer outside the tests.

An AST walk, no Spark. The roots are the code the engine ships for: the
driver-contract queries (``__spark_entry__.py``), the ``jobs/`` CLIs,
perfbench's non-test modules and the tools that stay. A top-level name of
the package is reached when a root names it, or when reached package code
names it (importing a module runs its module-level statements). Every
public top-level function and class must be reached, or be listed in
``ALLOWED`` with the reason it stays. A reached class brings its
class-level statements and dunder methods; another method is reached when
a root or reached package code names it as an attribute (``x.name``).
Every public method of a reached class must be, or be listed in
``ALLOWED_METHODS`` with the reason it stays.
Likewise every field of the config dataclasses must be passed by keyword
from a root, or be listed in ``ALLOWED_FIELDS`` with the reason it stays.
And every parameter with a default of a reached public function or method
(or of a reached class's ``__init__``) must be passed, by keyword or by
position, by a root or by reached package code, or be listed in
``ALLOWED_PARAMS`` with the reason it stays. A method call ``x.name(...)``
counts for every method of that name.
"""

import ast
import pathlib

import sbustreamspot_core_spark as pkg

PKG_DIR = pathlib.Path(pkg.__file__).parent
REPO = PKG_DIR.parent
PKG = PKG_DIR.name

KEPT_TOOLS = ["make_fixtures.py", "validate_entry.py", "scaling.py"]

# module -> reason; every public name in it is exempt
ALLOWED_MODULES = {
    "oracles.graph_oracle": "test reference for the graph algorithms",
    "oracles.streamspot_oracle": "test reference for the StreamSpot operators",
}
# (module, name) -> reason
ALLOWED = {
    ("functions.avi", "avi_decode"):
        "all-frames reference decoder the AVI codec tests compare against",
    ("functions.text", "lang_id_py"):
        "Python reference for lang_id_expr",
    ("functions.text", "token_count_py"):
        "Python reference for token_count_expr",
    ("sources.docs", "planted_near_dup_pairs"):
        "test data: the planted truth of generate_variant_docs",
    ("sources.pages", "expected_link_edges"):
        "test data: the planted truth of generate_pages",
}
# (module, "Class.method") -> reason; public methods no root names
ALLOWED_METHODS = {}
# (module, function or "Class.method", parameter) -> reason; defaulted
# parameters no root and no reached package code passes
ALLOWED_PARAMS = {
    ("session", "default_driver_memory", "meminfo"):
        "test seam: the tests pass a fake meminfo file",
    ("sources.pages", "generate_pages", "num_partitions"):
        "test seam: the partition-invariance test varies it",
    ("functions.jpeg", "jpeg_encode", "interleaved"):
        "test seam: covers the decoder's non-interleaved input",
}
CONFIG_CLASSES = ("GraphParams", "StreamSpotParams")
# (config class, field) -> reason; fields no root passes
ALLOWED_FIELDS = {
    ("StreamSpotParams", "seed"):
        "the reference's SEED (param.h), the seed of the hash family",
}


def _module_name(path):
    return ".".join(path.relative_to(PKG_DIR).with_suffix("").parts) \
        .removesuffix("__init__").rstrip(".")


def _is_package(module):
    return (PKG_DIR / module.replace(".", "/") / "__init__.py").exists()


def _absolute(module, node):
    """The package-relative module an ImportFrom names, or None."""
    if node.level:
        parts = module.split(".") if module else []
        if not _is_package(module):
            parts = parts[:-1]
        parts = parts[:len(parts) - node.level + 1]
        return ".".join(parts + ([node.module] if node.module else []))
    if node.module == PKG:
        return ""
    if node.module and node.module.startswith(PKG + "."):
        return node.module[len(PKG) + 1:]
    return None


def _bindings(module, tree, modules):
    """name -> ("mod", m) for a module alias, ("def", m, name) for a
    package top-level name, from every import in ``tree``."""
    out = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            base = _absolute(module, node)
            if base is None:
                continue
            for a in node.names:
                sub = f"{base}.{a.name}".lstrip(".")
                key = a.asname or a.name
                out[key] = ("mod", sub) if sub in modules \
                    else ("def", base, a.name)
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name == PKG or a.name.startswith(PKG + "."):
                    sub = a.name[len(PKG) + 1:]
                    if a.asname:
                        out[a.asname] = ("mod", sub)
    return out


def _refs(node, module, bindings, own):
    """(module, name) pairs ``node`` names."""
    refs = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            b = bindings.get(n.id)
            if b and b[0] == "def":
                refs.add((b[1], b[2]))
            elif b and b[0] == "mod":
                refs.add((b[1], None))
            elif n.id in own:
                refs.add((module, n.id))
        elif isinstance(n, ast.Attribute) and isinstance(n.value, ast.Name):
            b = bindings.get(n.value.id)
            if b and b[0] == "mod":
                refs.add((b[1], n.attr))
    return refs


def _package():
    """module -> (tree, bindings, {top-level name: node})."""
    paths = sorted(PKG_DIR.rglob("*.py"))
    modules = {_module_name(p) for p in paths}
    out = {}
    for p in paths:
        m = _module_name(p)
        tree = ast.parse(p.read_text())
        defs = {n.name: n for n in tree.body if isinstance(
            n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))}
        for n in tree.body:
            if isinstance(n, ast.Assign):
                defs.update({t.id: n for t in n.targets
                             if isinstance(t, ast.Name)})
        out[m] = (tree, _bindings(m, tree, modules), defs)
    return out


def _roots():
    paths = [REPO / "__spark_entry__.py"]
    paths += sorted((REPO / "jobs").glob("*.py"))
    paths += [p for p in sorted((REPO / "perfbench").glob("*.py"))
              if not p.name.startswith("test_")]
    paths += [REPO / "tools" / name for name in KEPT_TOOLS]
    return paths


def _attrs(node):
    """Attribute names ``node`` reads or calls (``x.name``)."""
    return {n.attr for n in ast.walk(node) if isinstance(n, ast.Attribute)}


def _methods(cls):
    return {n.name: n for n in cls.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))}


def _walk(extra=()):
    """(reached, code): the (module, name) pairs reached from the roots and
    from ``extra``, a reached method being (module, "Class.method"), and
    the (node, module, bindings, own names) of every root and every piece
    of reached package code. A class in ``extra`` brings all its
    methods."""
    pkg_mods = _package()
    modules = set(pkg_mods)
    todo, attrs, code = set(extra), set(), []
    for path in _roots():
        tree = ast.parse(path.read_text())
        bindings = _bindings("", tree, modules)
        todo |= _refs(tree, None, bindings, set())
        attrs |= _attrs(tree)
        code.append((tree, None, bindings, {}))
    seen, loaded = set(), set()
    pending = {}        # (module, class) -> {method: node} not yet reached

    def visit(node, m):
        _, bindings, defs = pkg_mods[m]
        todo.update(_refs(node, m, bindings, defs))
        attrs.update(_attrs(node))
        code.append((node, m, bindings, defs))

    grew = True
    while grew:
        while todo:
            m, name = todo.pop()
            if m not in pkg_mods or (m, name) in seen:
                continue
            seen.add((m, name))
            tree, _, defs = pkg_mods[m]
            if m not in loaded:
                # importing a module runs its module-level statements
                loaded.add(m)
                for n in tree.body:
                    if not isinstance(n, (ast.FunctionDef,
                                          ast.AsyncFunctionDef, ast.ClassDef)):
                        visit(n, m)
                todo.add((m.rpartition(".")[0], None))
            node = defs.get(name)
            if not isinstance(node, ast.ClassDef):
                if node is not None:
                    visit(node, m)
                continue
            methods = _methods(node)
            for n in node.decorator_list + node.bases + node.keywords + [
                    n for n in node.body if n not in methods.values()]:
                visit(n, m)
            pending[m, name] = methods
        grew = False
        for (m, cls), methods in pending.items():
            whole = (m, cls) in extra
            for name in [k for k in methods if whole or k in attrs
                         or (k.startswith("__") and k.endswith("__"))]:
                seen.add((m, f"{cls}.{name}"))
                visit(methods.pop(name), m)
                grew = True
    return seen, code


def reached(extra=()):
    """(module, name) pairs reached from the roots and from ``extra``."""
    return _walk(extra)[0]


def _public():
    return {(m, name) for m, (_, _, defs) in _package().items()
            for name, node in defs.items()
            if not name.startswith("_") and isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))}


def _allowed(public):
    return {(m, name) for m, name in public
            if m in ALLOWED_MODULES or (m, name) in ALLOWED}


def _public_methods(names):
    """(module, "Class.method") for the public methods of the classes
    among ``names``."""
    pkg_mods, out = _package(), set()
    for m, name in names:
        node = pkg_mods[m][2][name]
        if isinstance(node, ast.ClassDef):
            out |= {(m, f"{name}.{k}") for k in _methods(node)
                    if not k.startswith("_")}
    return out


def _config_fields():
    defs = _package()["config"][2]
    return {(c, n.target.id) for c in CONFIG_CLASSES
            for n in defs[c].body if isinstance(n, ast.AnnAssign)}


def _passed_fields():
    """(config class, field) pairs some root passes by keyword."""
    out = set()
    for path in _roots():
        for n in ast.walk(ast.parse(path.read_text())):
            if not isinstance(n, ast.Call):
                continue
            f = n.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name in CONFIG_CLASSES:
                out |= {(name, k.arg) for k in n.keywords if k.arg}
    return out


def _signature(fn, skip):
    """The positional parameter names of ``fn`` after the first ``skip``,
    and the names of its parameters that have a default."""
    a = fn.args
    positional = [x.arg for x in a.posonlyargs + a.args]
    defaulted = positional[len(positional) - len(a.defaults):]
    defaulted += [x.arg for x, d in zip(a.kwonlyargs, a.kw_defaults)
                  if d is not None]
    return positional[skip:], defaulted


def _callables():
    """(module, name) or (module, "Class.method") -> (node, leading
    parameters a call does not pass: ``self`` or ``cls``)."""
    out = {}
    for m, (_, _, defs) in _package().items():
        for name, node in defs.items():
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                out[m, name] = (node, 0)
            elif isinstance(node, ast.ClassDef):
                for k, fn in _methods(node).items():
                    static = any(getattr(d, "id", None) == "staticmethod"
                                 for d in fn.decorator_list)
                    out[m, f"{name}.{k}"] = (fn, 0 if static else 1)
    return out


def _callees(func, m, bindings, own, callables):
    """The callables a call of ``func`` may run. A method call
    ``x.name(...)`` may run any method of that name; calling a class runs
    its ``__init__``."""
    if isinstance(func, ast.Name):
        b = bindings.get(func.id)
        if b and b[0] == "def":
            key = (b[1], b[2])
        elif func.id in own:
            key = (m, func.id)
        else:
            return []
    elif isinstance(func, ast.Attribute):
        b = bindings.get(getattr(func.value, "id", None))
        if not (b and b[0] == "mod"):
            return [k for k in callables
                    if k[1].rpartition(".")[2] == func.attr and "." in k[1]]
        key = (b[1], func.attr)
    else:
        return []
    init = (key[0], f"{key[1]}.__init__")
    return [init] if init in callables else [key]


def _passed_params(code, callables):
    """key -> the parameter names the calls in ``code`` pass to that
    callable, by keyword or by position; None when a call unpacks
    ``*args`` or ``**kwargs``. ``partial(f, ...)`` passes too."""
    out = {}
    for node, m, bindings, own in code:
        for call in ast.walk(node):
            if not isinstance(call, ast.Call):
                continue
            func, args = call.func, call.args
            if getattr(func, "id", getattr(func, "attr", None)) == "partial" \
                    and args:
                func, args = args[0], args[1:]
            for key in _callees(func, m, bindings, own, callables):
                if key not in callables:
                    continue
                positional = _signature(*callables[key])[0]
                if any(isinstance(a, ast.Starred) for a in args) or any(
                        k.arg is None for k in call.keywords):
                    out[key] = None
                elif out.get(key, ()) is not None:
                    out[key] = out.get(key, set()) | set(
                        positional[:len(args)]) | {
                        k.arg for k in call.keywords}
    return out


def _unpassed_params():
    """(key, parameter) for every defaulted parameter of a reached public
    function or method, or of a reached class's ``__init__``, that no
    root and no reached package code passes."""
    seen, code = _walk()
    callables = _callables()
    passed = _passed_params(code, callables)
    out = set()
    for (m, name), (node, skip) in callables.items():
        cls, _, attr = name.rpartition(".")
        if attr == "__init__":
            checked = (m, cls) in seen
        else:
            checked = (m, name) in seen and not attr.startswith("_")
        got = passed.get((m, name), set())
        if m in ALLOWED_MODULES or not checked or got is None:
            continue
        out |= {((m, name), p) for p in _signature(node, skip)[1]
                if p not in got}
    return out


def test_every_public_operator_has_a_consumer():
    """What the allowlisted code uses stays too."""
    public = _public()
    allowed = _allowed(public)
    unreached = sorted(f"{m}.{name}"
                       for m, name in public - allowed - reached(allowed))
    assert not unreached, unreached


def test_every_public_method_is_named():
    """A method no root and no reached code names is an API only tests
    use."""
    public = _public()
    allowed = _allowed(public)
    seen = reached(allowed)
    unnamed = sorted(f"{m}.{name}" for m, name in _public_methods(
        public & seen) - seen - set(ALLOWED_METHODS))
    assert not unnamed, unnamed


def test_allowlist_is_current():
    """An allowlist entry names code that exists and no root reaches."""
    public, seen = _public(), reached()
    for key in ALLOWED:
        assert key in public, key
        assert key not in seen, f"{key} is reached; drop it from ALLOWED"
    for m in ALLOWED_MODULES:
        assert any(pm == m for pm, _ in public), m
    methods = _public_methods(public)
    for key in ALLOWED_METHODS:
        assert key in methods, key
        assert key not in seen, f"{key} is named; drop it from ALLOWED_METHODS"
    fields, passed = _config_fields(), _passed_fields()
    for key in ALLOWED_FIELDS:
        assert key in fields, key
        assert key not in passed, f"{key} is passed; drop it from ALLOWED_FIELDS"
    unpassed = _unpassed_params()
    for m, name, p in ALLOWED_PARAMS:
        assert ((m, name), p) in unpassed, \
            f"{m}.{name}({p}) is gone or passed; drop it from ALLOWED_PARAMS"


def test_every_keyword_parameter_is_passed():
    """A defaulted parameter no caller passes is an option only tests
    use."""
    unpassed = sorted(f"{m}.{name}({p})" for (m, name), p in
                      _unpassed_params()
                      if (m, name, p) not in ALLOWED_PARAMS)
    assert not unpassed, unpassed


def test_every_config_field_has_a_caller():
    """A config field no root sets is an option only tests use."""
    unset = sorted(f"{c}.{f}" for c, f in
                   _config_fields() - _passed_fields() - set(ALLOWED_FIELDS))
    assert not unset, unset
