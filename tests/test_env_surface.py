"""The engine reads only the deployment settings an outside launcher
may set. An A/B switch read from the environment doubles the
configurations the tests and the benchmark must cover; compare two
commits on perfbench instead."""

import pathlib
import re

ENGINE = pathlib.Path(__file__).resolve().parents[1] / "covid_engineering_spark"
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
