"""The engine's option surface stays as small as what is exercised.

It reads only the deployment settings an outside launcher may set: an
A/B switch read from the environment doubles the configurations the
tests and the benchmark must cover; compare two commits on perfbench
instead. Likewise an engine parameter stays a parameter only while a
real caller needs more than one value for it. A default that no
engine, example, script or benchmark call overrides, or a parameter
every call site fills with one literal or module constant, is a second
spelling of a module constant: fold it into the constant. A test
turns a default only through ``TEST_SEAMS``, which names its reason.
Values are compared, not spellings: ``k=5`` does not override
``k: int = K_ANON`` when ``K_ANON = 5``."""

import ast
import operator
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


#: The four reasons a parameter only tests turn may stay a parameter.
REFERENCE = "a reference the result is compared with"
AT_SCALE = "a path the registered value reaches only at scale"
SWEEP = "a property swept across values"
CODEC = "the codec seam"
_UNSALTED = (
    f"{REFERENCE}: cap=1 << 30 leaves every block one cell, the baseline "
    "the cap=16 salt grid must reproduce"
)
_UNCAPPED_DF = (
    f"{REFERENCE}: max_df=None keeps every shingle, the exact pair set "
    "the document-frequency cap is measured against"
)
#: Defaulted engine parameters only tests override, each with its reason.
TEST_SEAMS = {
    "knn_graph.cap": _UNSALTED,
    "embedding_pairs.cap": _UNSALTED,
    "semdedup.cap": (
        f"{REFERENCE}: the registered cap leaves every cell whole, the "
        "baseline the cap=16 salt grid must reproduce"
    ),
    "hard_negatives.batch_cap": (
        f"{REFERENCE}: both runs of the salt-split comparison batch at "
        "500, so the salted run has large batches to split"
    ),
    "hard_negatives.salt_cap": (
        f"{REFERENCE}: the batch cap as salt cap leaves every batch one "
        "cell, the baseline the salt_cap=16 grid must reproduce"
    ),
    "ngram_jaccard_pairs.max_df": _UNCAPPED_DF,
    "containment_pairs.max_df": _UNCAPPED_DF,
    "quantile_sketch.b": (
        f"{REFERENCE}: b=1000 covers every shard, so the sketch must "
        "equal the exact value histogram"
    ),
    "stream_attributed_clicks.watermark": (
        f"{REFERENCE}: at 0 seconds no late row drops, so the stream "
        "must equal its batch face"
    ),
    "connected_components.max_rounds": (
        f"{AT_SCALE}: the non-convergence error needs a component "
        "longer than CC_MAX_ROUNDS"
    ),
    "kmeans_lloyd.iters": f"{SWEEP}: the mean assignment score never "
    "falls from round to round",
    "rerank_topk.shortlist": f"{SWEEP}: recall grows with the shortlist",
    "graph_greedy_search.beam": f"{SWEEP}: the registered beam beats "
    "a beam-1 walk",
    "pack_chunks.budget": f"{SWEEP}: chunk boundaries follow the "
    "prefix formula at any budget",
    "dsir_gumbel_topk_exact.seed": f"{SWEEP}: another seed redraws",
    "ngram_jaccard_pairs.threshold": f"{SWEEP}: which pairs clear "
    "each threshold",
    "containment_pairs.threshold": f"{SWEEP}: which pairs clear each "
    "threshold",
    "quality_classifier.weights": (
        f"{SWEEP}: an all-positive model keeps every document and an "
        "all-negative one none"
    ),
    "extract_features.decoder": (
        f"{CODEC}: a deployment passes a real image decoder; tests pass "
        "strict_fake_decode to reach the per-record error path"
    ),
}
CALLERS = [
    *(p for d in ("covid_engineering_spark", "tests", "examples", "scripts",
                  "perfbench") for p in sorted((REPO / d).rglob("*.py"))),
    REPO / "bench.py",
    REPO / "__spark_entry__.py",
]


def _is_test(path: pathlib.Path) -> bool:
    return path.parts[len(REPO.parts)] == "tests" or path.name.startswith(
        "test_"
    )


def _modname(path: pathlib.Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


SOURCES = {_modname(p): p for p in CALLERS}
_TREES: dict = {}
_ENVS: dict = {}
UNKNOWN = object()
_OPS = {
    ast.Add: operator.add, ast.Sub: operator.sub, ast.Mult: operator.mul,
    ast.Div: operator.truediv, ast.FloorDiv: operator.floordiv,
    ast.Mod: operator.mod, ast.Pow: operator.pow,
    ast.LShift: operator.lshift, ast.RShift: operator.rshift,
    ast.USub: operator.neg, ast.UAdd: operator.pos,
}


class _Module(str):
    """An imported module name bound in a caller's namespace."""


def _tree(mod: str) -> ast.Module:
    if mod not in _TREES:
        _TREES[mod] = ast.parse(SOURCES[mod].read_text())
    return _TREES[mod]


def _value(node, env):
    """The value of a literal expression over module constants, or
    ``UNKNOWN``."""
    if isinstance(node, ast.Constant):
        return node.value
    if isinstance(node, (ast.Tuple, ast.List)):
        vals = [_value(e, env) for e in node.elts]
        if any(v is UNKNOWN for v in vals):
            return UNKNOWN
        return tuple(vals) if isinstance(node, ast.Tuple) else vals
    if isinstance(node, ast.BinOp) and type(node.op) in _OPS:
        a, b = _value(node.left, env), _value(node.right, env)
        if a is UNKNOWN or b is UNKNOWN:
            return UNKNOWN
        return _OPS[type(node.op)](a, b)
    if isinstance(node, ast.UnaryOp) and type(node.op) in _OPS:
        a = _value(node.operand, env)
        return UNKNOWN if a is UNKNOWN else _OPS[type(node.op)](a)
    if isinstance(node, ast.Name):
        v = env.get(node.id, UNKNOWN)
        return UNKNOWN if isinstance(v, _Module) else v
    if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
        mod = env.get(node.value.id)
        if isinstance(mod, _Module):
            v = _env(mod).get(node.attr, UNKNOWN)
            return UNKNOWN if isinstance(v, _Module) else v
    return UNKNOWN


def _env(mod: str) -> dict:
    """Module-level constants of ``mod``, plus every repo module and
    constant it imports (anywhere in the file: tests import inside
    test functions)."""
    if mod in _ENVS:
        return _ENVS[mod]
    env = _ENVS[mod] = {}
    pkg = mod.split(".")
    if SOURCES[mod].name != "__init__.py":
        pkg = pkg[:-1]
    tree = _tree(mod)
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                base = ".".join(
                    pkg[: len(pkg) - node.level + 1] + [base] * bool(base)
                )
            for a in node.names:
                name = a.asname or a.name
                if f"{base}.{a.name}" in SOURCES:
                    env[name] = _Module(f"{base}.{a.name}")
                elif base in SOURCES:
                    v = _env(base).get(a.name, UNKNOWN)
                    if v is not UNKNOWN:
                        env[name] = v
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.asname and a.name in SOURCES:
                    env[a.asname] = _Module(a.name)
    for node in tree.body:
        if isinstance(node, (ast.Assign, ast.AnnAssign)) and node.value:
            targets = (
                node.targets if isinstance(node, ast.Assign)
                else [node.target]
            )
            if len(targets) == 1 and isinstance(targets[0], ast.Name):
                v = _value(node.value, env)
                if v is not UNKNOWN:
                    env[targets[0].id] = v
    return env


def _key(node, env):
    """What a call passes: its value when it is a constant expression,
    else its spelling (``decoder=fake_decode`` matches its default)."""
    v = _value(node, env)
    return ("expr", ast.dump(node)) if v is UNKNOWN else ("val", v)


def _params(fn: ast.FunctionDef) -> list[str]:
    pos = [p.arg for p in fn.args.posonlyargs + fn.args.args]
    return pos[1:] if pos[:1] in (["self"], ["cls"]) else pos


def _defaults(fn: ast.FunctionDef) -> dict:
    a = fn.args
    pos = a.posonlyargs + a.args
    pairs = list(zip(pos[len(pos) - len(a.defaults):], a.defaults))
    pairs += [(p, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d]
    return {p.arg: d for p, d in pairs}


def _passed(fn: ast.FunctionDef, call: ast.Call, env) -> dict | None:
    """Parameter -> what ``call`` passes, for every parameter it names;
    None when a ``*``/``**`` splat hides what it reaches."""
    pos = _params(fn)
    out = {}
    for i, arg in enumerate(call.args):
        if isinstance(arg, ast.Starred):
            return None
        if i < len(pos):
            out[pos[i]] = _key(arg, env)
    for kw in call.keywords:
        if kw.arg is None:
            return None
        out[kw.arg] = _key(kw.value, env)
    return out


def _survey():
    """Every engine function, its call sites as ``(from a test, what
    the call passes)``, and the functions also referenced as values
    (registered queries, callbacks) — those have callers no call site
    shows."""
    defs = {}
    for path in sorted(ENGINE.rglob("*.py")):
        mod = _modname(path)
        for node in ast.walk(_tree(mod)):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs.setdefault(node.name, []).append((node, mod))
    sites = {id(fn): [] for fns in defs.values() for fn, _ in fns}
    escaped = set()
    for path in CALLERS:
        mod = _modname(path)
        tree, env = _tree(mod), _env(mod)
        alias = {
            a.asname: a.name
            for node in ast.walk(tree)
            if isinstance(node, ast.ImportFrom)
            for a in node.names
            if a.asname
        }
        called = set()
        for call in ast.walk(tree):
            if isinstance(call, ast.Call):
                called.add(id(call.func))
                f = call.func
                name = getattr(f, "id", None) or getattr(f, "attr", None)
                for fn, _ in defs.get(alias.get(name, name), ()):
                    sites[id(fn)].append(
                        (_is_test(path), _passed(fn, call, env))
                    )
        for node in ast.walk(tree):
            if id(node) not in called and isinstance(
                getattr(node, "ctx", None), ast.Load
            ):
                name = getattr(node, "id", None) or getattr(
                    node, "attr", None
                )
                escaped.add(alias.get(name, name))
    return defs, sites, escaped


def test_every_engine_default_is_overridden_somewhere():
    defs, sites, _ = _survey()
    never, seams_used = [], set()
    for name, fns in defs.items():
        for fn, mod in fns:
            for p, d in _defaults(fn).items():
                dflt = _key(d, _env(mod))
                turned = {
                    is_test
                    for is_test, passed in sites[id(fn)]
                    if passed is None or passed.get(p, dflt) != dflt
                }
                seam = f"{name}.{p}"
                if False in turned:
                    continue
                if seam in TEST_SEAMS and True in turned:
                    seams_used.add(seam)
                else:
                    never.append(seam)
    assert not never, (
        "fold these into the constants they default to, or name the "
        f"reason a test turns them in TEST_SEAMS: {sorted(never)}"
    )
    assert seams_used == set(TEST_SEAMS), (
        "TEST_SEAMS entries no test turns, or a real caller already "
        f"does: {sorted(set(TEST_SEAMS) - seams_used)}"
    )
    assert all(
        r.split(":")[0] in (REFERENCE, AT_SCALE, SWEEP, CODEC)
        for r in TEST_SEAMS.values()
    )


def test_no_engine_parameter_takes_one_constant_everywhere():
    defs, sites, escaped = _survey()
    constant = []
    for name, fns in defs.items():
        if name in escaped:
            continue
        for fn, _ in fns:
            calls = sites[id(fn)]
            params = _params(fn) + [a.arg for a in fn.args.kwonlyargs]
            for p in params:
                passed = [c and c.get(p) for _, c in calls]
                if (
                    passed
                    and all(v and v[0] == "val" for v in passed)
                    and all(v == passed[0] for v in passed)
                ):
                    constant.append(f"{name}.{p}")
    assert not constant, (
        "every call site passes these one literal or module constant; "
        f"fold each into the constant: {sorted(constant)}"
    )
