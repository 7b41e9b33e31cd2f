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
ALLOWED_METHODS = {
    ("sources.snaptable", "SnapTable.rollback_to"):
        "tests/test_table_dedup.py stages source snapshots with it",
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


def reached(extra=()):
    """(module, name) pairs reached from the roots and from ``extra``; a
    reached method is (module, "Class.method"). A class in ``extra``
    brings all its methods."""
    pkg_mods = _package()
    modules = set(pkg_mods)
    todo, attrs = set(extra), set()
    for path in _roots():
        tree = ast.parse(path.read_text())
        todo |= _refs(tree, None, _bindings("", tree, modules), set())
        attrs |= _attrs(tree)
    seen, loaded = set(), set()
    pending = {}        # (module, class) -> {method: node} not yet reached

    def visit(node, m):
        _, bindings, defs = pkg_mods[m]
        todo.update(_refs(node, m, bindings, defs))
        attrs.update(_attrs(node))

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
    return seen


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


def test_every_config_field_has_a_caller():
    """A config field no root sets is an option only tests use."""
    unset = sorted(f"{c}.{f}" for c, f in
                   _config_fields() - _passed_fields() - set(ALLOWED_FIELDS))
    assert not unset, unset
