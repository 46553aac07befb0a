"""Every package module, and every top-level def in it, is one the system
runs, or is kept on purpose. Static (``ast`` only, no Spark).

Modules: a walk of the import graph from the production roots: the driver
contract, ``bench.py``, the benchmark harness, every query module under
``plans/`` and the pipeline tick. Imports inside functions count, so
``registry.load_all``'s list and the lazy imports of the operators are
followed. A package module that nothing reaches fails the test unless
``ALLOWLIST`` names it, with its COVERAGE.md row and why it is kept.

Defs: a top-level ``def`` or ``class`` of the package fails unless some
production file (the package, ``bench.py``, ``__spark_entry__.py``,
``perfbench/``) names it outside its own body, as a ``Name``, an
``Attribute``, an import alias or an identifier string. Names inside the
body of another unnamed def do not count, so a helper only an unnamed def
calls is unnamed too. ``@register`` query functions are exempt (the
registry runs them), and so are the defs of an ``ALLOWLIST`` module.
``DEF_ALLOWLIST`` keeps a def, with its COVERAGE.md row and why. The
strings of a module's own ``__all__`` are not names: exporting a def does
not run it.

Options: a defaulted parameter of a package def (a top-level def or a
method) fails unless some production call sets it, by keyword or by
position. A def that production reaches through ``*args``/``**kwargs``, or
uses as a method value (``self.notify_ops`` in a dispatch table), may get
any argument, so its parameters count as set. Input-column names
(``*_col``, ``src``, ``dst``, ``suffix``) and the clock ``now`` are exempt,
and so are the parameters of ``ALLOWLIST`` modules and ``DEF_ALLOWLIST``
defs. ``PARAM_ALLOWLIST`` keeps the rest, with its COVERAGE.md row and why.
A value no caller sets is a constant: a tuning knob no query sets doubles
the configurations a test must cover.

Delete a module, def or option that only tests run; its history stays in git.
Tools are not production roots, so one more test checks that every
package import in ``tools/`` still resolves.
"""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "autonomous_orchestrator_ai_spark"

ROOTS = (
    REPO / "__spark_entry__.py",
    REPO / "bench.py",
    REPO / "perfbench" / "run.py",
    REPO / "perfbench" / "workloads.py",
    REPO / PKG / "pipeline_driver.py",
    *sorted((REPO / PKG / "plans").glob("*.py")),
)

#: module -> (COVERAGE.md row, why it stays although nothing reaches it)
ALLOWLIST = {
    f"{PKG}.agent.llm": ("§2.12 D3/D4 LLM decision path", "ROADMAP direction 1 decides"),
    f"{PKG}.operators.multimodal": ("Scale machinery: Multimodal", "a1b210d kept"),
    f"{PKG}.operators.bmp_codec": ("Scale machinery: Multimodal (BMP)", "a1b210d kept"),
    f"{PKG}.operators.png_codec": ("Scale machinery: Multimodal (PNG)", "a1b210d kept"),
    f"{PKG}.operators.wav_codec": ("Scale machinery: Multimodal (WAV)", "a1b210d kept"),
}

_NO_BROKER = "kept, not run here: this container has no Kafka broker or connector jar"
_NO_ENDPOINT = "kept, not run here: this container has no endpoint to reach"

#: module.def -> (COVERAGE.md row, why it stays although no production file names it)
DEF_ALLOWLIST = {
    f"{PKG}.sources.readers.kafka_stream": ("S1 Kafka streaming scan", _NO_BROKER),
    f"{PKG}.sources.readers.parse_avro_value": ("S2 Kafka value decode", _NO_BROKER),
    f"{PKG}.sources.readers.decode_avro_values": ("S2 Kafka value decode", _NO_BROKER),
    f"{PKG}.sources.writers.encode_avro_values": ("beyond: Kafka produce path", _NO_BROKER),
    f"{PKG}.sources.writers.kafka_sink_options": ("beyond: Kafka produce path", _NO_BROKER),
    f"{PKG}.sources.writers.foreach_batch_snowflake_sink": (
        "S5 foreachBatch relational sink",
        "kept, not run here: this container has no Snowflake account or connector jar",
    ),
    f"{PKG}.agent.transports.SlackNotifier": ("§2.12 D9 notify", _NO_ENDPOINT),
    f"{PKG}.agent.transports.EmailNotifier": ("§2.12 D9 notify", _NO_ENDPOINT),
    f"{PKG}.agent.transports.smtp_transport": ("§2.12 D9 notify", _NO_ENDPOINT),
    f"{PKG}.agent.transports.AirflowClient": ("§2.12 D6 retrigger", _NO_ENDPOINT),
    f"{PKG}.operators.transform.payload_drift_keys": (
        "§2.7 set operations",
        "kept, not run here: ROADMAP direction 1's drift directive reads it",
    ),
    f"{PKG}.sources.writers.write_quarantine": (
        "P10 quarantine filter",
        "kept, not run here: ROADMAP direction 1's quarantine apply writes each "
        "directive's records through it, into the directory quarantine_records made",
    ),
    f"{PKG}.session.codegen_compiles": (
        "Session: codegen cache",
        "kept, not run here: an instrument tools/profile_query.py reads",
    ),
    f"{PKG}.streaming.pipeline.rocksdb_state_conf": (
        "§2.9 RocksDB state store",
        "kept, not run here: an instrument tools/parity_sf1.py and the RocksDB test read",
    ),
}


def _module_name(path: Path) -> str:
    parts = path.relative_to(REPO).with_suffix("").parts
    if parts[-1] == "__init__":
        parts = parts[:-1]
    return ".".join(parts)


def _package_modules() -> dict[str, Path]:
    return {_module_name(p): p for p in (REPO / PKG).rglob("*.py")}


def _imported_names(path: Path) -> set[str]:
    """Dotted names ``path`` imports, anywhere in the file. For
    ``from a.b import c`` both ``a.b`` and ``a.b.c`` are returned, since
    ``c`` may be a submodule."""
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
    return names


def reached_modules() -> set[str]:
    """Package modules reached from ``ROOTS``. A script outside the
    package may import its sibling files by bare name (``perfbench/run.py``
    imports ``workloads``); those are walked too."""
    package = _package_modules()
    reached: set[str] = set()
    seen: set[Path] = set()
    todo = list(ROOTS)
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        for name in _imported_names(path):
            sibling = path.parent / f"{name}.py"
            if PKG not in path.parts and sibling.exists():
                todo.append(sibling)
                continue
            parts = name.split(".")
            # importing a.b.c runs a/__init__ and a/b/__init__ first
            for i in range(1, len(parts) + 1):
                mod = ".".join(parts[:i])
                if mod in package and mod not in reached:
                    reached.add(mod)
                    todo.append(package[mod])
    return reached


def test_every_package_module_is_reached_or_allowlisted():
    package = set(_package_modules())
    unreached = package - reached_modules()
    stray = sorted(unreached - set(ALLOWLIST))
    assert not stray, (
        f"package modules no production root imports: {stray}. "
        "Delete them, or add each to ALLOWLIST with its COVERAGE.md row "
        "and the reason it is kept."
    )


def test_allowlist_names_only_unreached_modules():
    """An allowlisted module that became reached, or was deleted, is a
    stale entry."""
    package = set(_package_modules())
    assert not set(ALLOWLIST) - package, "allowlisted modules that do not exist"
    assert not set(ALLOWLIST) & reached_modules(), "allowlisted modules that are reached"


# -- defs -------------------------------------------------------------------

_IDENTIFIER = re.compile(r"[A-Za-z_]\w*")
_DEF = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _production_files() -> list[Path]:
    return [
        *sorted((REPO / PKG).rglob("*.py")),
        REPO / "bench.py",
        REPO / "__spark_entry__.py",
        *sorted((REPO / "perfbench").rglob("*.py")),
    ]


def _exported(tree: ast.Module) -> Counter:
    """The strings of the module's own top-level ``__all__``."""
    out: Counter = Counter()
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            out.update(
                n.value
                for n in ast.walk(node.value)
                if isinstance(n, ast.Constant) and isinstance(n.value, str)
            )
    return out


def _names(node: ast.AST) -> Counter:
    """How often each name occurs in ``node``: as a ``Name``, an
    ``Attribute``, an import alias or a string that is an identifier."""
    names: Counter = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            names[n.id] += 1
        elif isinstance(n, ast.Attribute):
            names[n.attr] += 1
        elif isinstance(n, ast.alias):
            names[n.name.rsplit(".", 1)[-1]] += 1
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if _IDENTIFIER.fullmatch(n.value):
                names[n.value] += 1
    return names


def _registered(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id == "register"
        for d in node.decorator_list
    )


def package_defs() -> tuple[dict[str, tuple[str, Counter]], Counter]:
    """Every top-level def of the package (``module.name`` -> its name and
    the names in its body) that is not a registered query, and the names
    of every production file together."""
    defs: dict[str, tuple[str, Counter]] = {}
    total: Counter = Counter()
    for path in _production_files():
        tree = ast.parse(path.read_text(), str(path))
        total += _names(tree) - _exported(tree)
        if PKG not in path.relative_to(REPO).parts:
            continue
        module = _module_name(path)
        for node in tree.body:
            if isinstance(node, _DEF) and not _registered(node):
                defs[f"{module}.{node.name}"] = (node.name, _names(node))
    return defs, total


def unnamed_defs(kept: dict | set = DEF_ALLOWLIST) -> set[str]:
    """Package defs that no production file names outside their own body
    and the bodies of the other unnamed defs. ``kept`` defs and the defs of
    ``ALLOWLIST`` modules count as named, and their bodies as callers."""
    defs, total = package_defs()
    candidates = {
        key: entry
        for key, entry in defs.items()
        if key not in kept and key.rsplit(".", 1)[0] not in ALLOWLIST
    }
    unnamed: set[str] = set()
    while True:
        inside_unnamed = sum((defs[key][1] for key in unnamed), Counter())
        new = {
            key
            for key, (name, own) in candidates.items()
            if key not in unnamed and total[name] - own[name] - inside_unnamed[name] <= 0
        }
        if not new:
            return unnamed
        unnamed |= new


def test_every_package_def_is_named_or_allowlisted():
    stray = sorted(unnamed_defs())
    assert not stray, (
        f"package defs no production file names: {stray}. Delete them (and "
        "the tests that only run them), or add each to DEF_ALLOWLIST with its "
        "COVERAGE.md row and the reason it is kept."
    )


def test_def_allowlist_names_only_existing_unnamed_defs():
    """An allowlisted def that was deleted, or that production now names,
    is a stale entry."""
    defs, _ = package_defs()
    gone = sorted(set(DEF_ALLOWLIST) - set(defs))
    assert not gone, f"allowlisted defs that do not exist: {gone}"
    named = sorted(set(DEF_ALLOWLIST) - unnamed_defs(kept=set()))
    assert not named, f"allowlisted defs that production names: {named}"


# -- options ----------------------------------------------------------------

_EXEMPT_PARAM = re.compile(r"\w+_col|src|dst|suffix|now")

#: module.def:param -> (COVERAGE.md row, why it stays although no production call sets it)
PARAM_ALLOWLIST = {
    f"{PKG}.session.get_spark:shuffle_partitions": (
        "Session: shuffle partitions",
        "kept: tier-1's session sets 4 (tests/conftest.py)",
    ),
    **{
        f"{PKG}.agent.tools.PipelineTools.__init__:{name}": (
            "§2.12 D6 retrigger / D9 notify",
            "kept, not run here: the reference adapters (agent/transports.py)",
        )
        for name in ("slack", "email", "airflow", "dag_id")
    },
    f"{PKG}.operators.incidents.IncidentStore.recent:incident_type": (
        "§2.12 D13 incident CRUD",
        "kept: reference store API; ROADMAP direction 1's escalation counts incidents by type",
    ),
    f"{PKG}.operators.incidents.IncidentStore.log_incident:created_by": (
        "§2.12 D13 incident CRUD",
        "kept: reference store API",
    ),
    f"{PKG}.operators.incidents.IncidentStore.resolve_incident:notes": (
        "§2.12 D13 incident CRUD",
        "kept: reference store API (the resolution_notes field)",
    ),
}


def _defaulted(fn: ast.FunctionDef, bound: bool) -> list[tuple[str, int | None]]:
    """``fn``'s defaulted parameters: (name, position in a call, or None
    for keyword-only). ``bound`` drops ``self``/``cls`` from positions."""
    positional = fn.args.posonlyargs + fn.args.args
    first = len(positional) - len(fn.args.defaults)
    out = [(a.arg, i - bound) for i, a in enumerate(positional) if i >= first]
    out += [
        (a.arg, None)
        for a, d in zip(fn.args.kwonlyargs, fn.args.kw_defaults)
        if d is not None
    ]
    return out


def option_defs() -> dict[str, tuple[str, list[tuple[str, int | None]]]]:
    """Package defs with defaulted parameters, outside ``ALLOWLIST`` modules
    and ``DEF_ALLOWLIST`` defs: ``module.def`` (or ``module.Class.method``)
    -> (the name a call uses, its defaulted parameters)."""
    out = {}
    for path in (REPO / PKG).rglob("*.py"):
        module = _module_name(path)
        if module in ALLOWLIST:
            continue
        for node in ast.parse(path.read_text(), str(path)).body:
            if f"{module}.{getattr(node, 'name', '')}" in DEF_ALLOWLIST:
                continue
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                out[f"{module}.{node.name}"] = (node.name, _defaulted(node, False))
            elif isinstance(node, ast.ClassDef):
                for fn in node.body:
                    if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        continue
                    static = any(
                        isinstance(d, ast.Name) and d.id == "staticmethod"
                        for d in fn.decorator_list
                    )
                    called = node.name if fn.name == "__init__" else fn.name
                    out[f"{module}.{node.name}.{fn.name}"] = (
                        called,
                        _defaulted(fn, not static),
                    )
    return out


def _production_calls() -> tuple[dict[str, list[ast.Call]], set[str]]:
    """Every production call by the name it calls, and the attribute names
    production uses as values (a bound method stored for dispatch)."""
    calls: dict[str, list[ast.Call]] = {}
    values: set[str] = set()
    for path in _production_files():
        tree = ast.parse(path.read_text(), str(path))
        funcs = {id(n.func) for n in ast.walk(tree) if isinstance(n, ast.Call)}
        for n in ast.walk(tree):
            if isinstance(n, ast.Call):
                f = n.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name:
                    calls.setdefault(name, []).append(n)
            elif (
                isinstance(n, ast.Attribute)
                and isinstance(n.ctx, ast.Load)
                and id(n) not in funcs
            ):
                values.add(n.attr)
    return calls, values


def _sets(call: ast.Call, name: str, position: int | None) -> bool:
    if any(isinstance(a, ast.Starred) for a in call.args):
        return True
    if any(k.arg is None or k.arg == name for k in call.keywords):
        return True
    return position is not None and len(call.args) > position


def unset_options() -> set[str]:
    """``module.def:param`` for every defaulted parameter no production
    call sets, exempt ones left out."""
    calls, values = _production_calls()
    unset = set()
    for key, (called, params) in option_defs().items():
        if called in values and not key.endswith(".__init__"):
            continue
        for name, position in params:
            if _EXEMPT_PARAM.fullmatch(name):
                continue
            if not any(_sets(c, name, position) for c in calls.get(called, [])):
                unset.add(f"{key}:{name}")
    return unset


def test_every_option_is_set_or_allowlisted():
    stray = sorted(unset_options() - set(PARAM_ALLOWLIST))
    assert not stray, (
        f"defaulted parameters no production call sets: {stray}. Make each "
        "a module constant (or a literal) and delete the branches only "
        "another value reached, or add it to PARAM_ALLOWLIST with its "
        "COVERAGE.md row and the reason it is kept."
    )


def test_param_allowlist_names_only_unset_options():
    """An allowlisted parameter that was deleted, or that a production call
    now sets, is a stale entry."""
    stale = sorted(set(PARAM_ALLOWLIST) - unset_options())
    assert not stale, f"allowlisted parameters that are gone or set: {stale}"


# -- tools ------------------------------------------------------------------


def _module_bindings(path: Path) -> set[str]:
    """Names a module binds at top level (inside ``if``/``try`` too):
    defs, classes, assignments and imports."""
    bound: set[str] = set()
    todo = list(ast.parse(path.read_text(), str(path)).body)
    while todo:
        node = todo.pop()
        if isinstance(node, _DEF):
            bound.add(node.name)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            bound.update((a.asname or a.name).split(".")[0] for a in node.names)
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                bound.update(n.id for n in ast.walk(t) if isinstance(n, ast.Name))
        elif isinstance(node, (ast.If, ast.Try, ast.With)):
            for field in ("body", "orelse", "finalbody", "handlers"):
                todo.extend(getattr(node, field, []))
        elif isinstance(node, ast.ExceptHandler):
            todo.extend(node.body)
    return bound


def test_tools_package_imports_resolve():
    """``from autonomous_orchestrator_ai_spark.X import a`` in ``tools/``:
    ``X`` exists and defines or imports ``a`` (or ``a`` is a submodule)."""
    package = _package_modules()
    broken = []
    for path in sorted((REPO / "tools").glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Import):
                wanted = [(a.name, None) for a in node.names if a.name.startswith(PKG)]
            elif isinstance(node, ast.ImportFrom) and node.module and node.module.startswith(PKG):
                wanted = [(node.module, a.name) for a in node.names]
            else:
                continue
            for module, name in wanted:
                where = f"{path.name}:{node.lineno}"
                if module not in package:
                    broken.append(f"{where} no module {module}")
                elif (
                    name is not None
                    and f"{module}.{name}" not in package
                    and name not in _module_bindings(package[module])
                ):
                    broken.append(f"{where} {module} has no {name}")
    assert not broken, broken
