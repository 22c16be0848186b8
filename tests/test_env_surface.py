"""The engine's option surface stays as small as what is exercised.

It reads only the deployment settings an outside launcher may set: an
A/B switch read from the environment doubles the configurations the
tests and the benchmark must cover; compare two commits on perfbench
instead. Likewise every defaulted parameter of an engine function is
overridden by some call site: a default that nothing overrides is a
second spelling of a module constant, and no test or benchmark runs
any other value."""

import ast
import pathlib
import re

REPO = pathlib.Path(__file__).resolve().parents[1]
ENGINE = REPO / "covid_engineering_spark"
DEPLOYMENT_VARS = {
    "SPARK_GRAFT_CPUS",
    "SPARK_MASTER",
    "SPARK_SHUFFLE_PARTITIONS",
}

_ANY_READ = re.compile(r"\b(?:environ|getenv)\b")
_NAMED_READ = re.compile(
    r"""os\.(?:environ(?:\.get\(|\[)|getenv\()\s*["'](\w+)["']"""
    r"""|["'](\w+)["']\s+(?:not\s+)?in\s+os\.environ\b"""
)


def test_engine_reads_only_deployment_env_vars():
    names, unnamed = set(), []
    for path in sorted(ENGINE.rglob("*.py")):
        for no, line in enumerate(path.read_text().splitlines(), 1):
            found = [a or b for a, b in _NAMED_READ.findall(line)]
            names.update(found)
            if len(_ANY_READ.findall(line)) > len(found):
                unnamed.append(f"{path.relative_to(ENGINE)}:{no}")
    assert not unnamed, f"env reads without a literal name: {unnamed}"
    assert names == DEPLOYMENT_VARS


def test_configure_existing_restores_every_modifiable_engine_key(spark):
    from covid_engineering_spark.session import (
        _DEFAULTS,
        _FOREIGN_KEEPS,
        configure_existing,
    )

    other = spark.newSession()
    other.conf.set("spark.sql.session.timeZone", "America/New_York")
    other.conf.set("spark.sql.ansi.enabled", "true")
    other.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    configure_existing(other)
    keys = [
        k for k in _DEFAULTS
        if k not in _FOREIGN_KEEPS and other.conf.isModifiable(k)
    ]
    assert {
        "spark.sql.adaptive.enabled",
        "spark.sql.session.timeZone",
        "spark.sql.ansi.enabled",
        "spark.sql.legacy.parquet.nanosAsLong",
    } <= set(keys)
    assert {k: other.conf.get(k) for k in keys} == {
        k: _DEFAULTS[k] for k in keys
    }


#: Defaulted engine parameters no call site overrides, each with the
#: reason it stays a parameter.
NEVER_OVERRIDDEN = {
    "resize_images.decoder": "the codec seam: a deployment passes a real "
    "image decoder where the fixture corpus uses fake_decode",
}
CALLERS = [
    *(p for d in ("covid_engineering_spark", "tests", "examples", "scripts",
                  "perfbench") for p in sorted((REPO / d).rglob("*.py"))),
    REPO / "bench.py",
    REPO / "__spark_entry__.py",
]


def _defaults(fn: ast.FunctionDef) -> dict[str, str]:
    a = fn.args
    pos = a.posonlyargs + a.args
    pairs = list(zip(pos[len(pos) - len(a.defaults):], a.defaults))
    pairs += [(p, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d]
    return {p.arg: ast.dump(d) for p, d in pairs}


def _overridden(fn: ast.FunctionDef, call: ast.Call) -> set[str]:
    """The defaulted parameters of ``fn`` that ``call`` passes with an
    expression other than the default's own (``*``/``**`` splats
    count as overriding everything they could reach)."""
    dflt = _defaults(fn)
    pos = [p.arg for p in fn.args.posonlyargs + fn.args.args]
    if pos[:1] in (["self"], ["cls"]):
        pos = pos[1:]
    out = set()
    for i, arg in enumerate(call.args):
        if isinstance(arg, ast.Starred):
            return set(dflt)
        if i < len(pos) and ast.dump(arg) != dflt.get(pos[i], ast.dump(arg)):
            out.add(pos[i])
    for kw in call.keywords:
        if kw.arg is None:
            return set(dflt)
        if ast.dump(kw.value) != dflt.get(kw.arg, ast.dump(kw.value)):
            out.add(kw.arg)
    return out


def test_every_engine_default_is_overridden_somewhere():
    defs = {}
    for path in sorted(ENGINE.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                if _defaults(node):
                    defs.setdefault(node.name, []).append(node)
    seen = {id(fn): set() for fns in defs.values() for fn in fns}
    for path in CALLERS:
        tree = ast.parse(path.read_text())
        alias = {
            a.asname: a.name
            for node in ast.walk(tree)
            if isinstance(node, ast.ImportFrom)
            for a in node.names
            if a.asname
        }
        for call in ast.walk(tree):
            if isinstance(call, ast.Call):
                f = call.func
                name = getattr(f, "id", None) or getattr(f, "attr", None)
                for fn in defs.get(alias.get(name, name), ()):
                    seen[id(fn)] |= _overridden(fn, call)
    never = sorted(
        f"{fn.name}.{p}"
        for fns in defs.values()
        for fn in fns
        for p in _defaults(fn)
        if p not in seen[id(fn)]
    )
    assert never == sorted(NEVER_OVERRIDDEN), (
        "fold these into the constants they default to: "
        f"{sorted(set(never) - set(NEVER_OVERRIDDEN))}"
    )
