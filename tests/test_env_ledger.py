"""Ledger of the package's environment switches and lineage cuts.

Every environment variable the package reads must be listed below with
its reason, so a decided A/B cannot leave its switch behind: once an arm
wins, the losing arm and its variable are deleted (git history keeps
them). Every eager lineage cut must go through ``session.materialize``,
so ``$SPARK_GRAFT_CHECKPOINT`` selects the durability posture at every
site. Spark-free: both checks read the source.
"""

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / (
    "real_time_weather_data_pipeline_for_philippine_cities_spark"
)

ENV_LEDGER = {
    "SPARK_GRAFT_CPUS": "deployment: local[N] core count of get_spark",
    "SPARK_DRIVER_MEM": "deployment: driver heap of get_spark",
    "SPARK_GRAFT_CHECKPOINT": "deployment: durability of materialize()",
    "SPARK_GRAFT_CHECKPOINT_DIR": "deployment: reliable checkpoint location",
    "SPARK_GRAFT_INITIAL_PARTS": "open: AQE initial partition count (ROADMAP item 2)",
    "SPARK_GRAFT_SHJ_LOCALMAP": "open: shuffled-hash join gates (ROADMAP item 2)",
}


def _is_environ(node: ast.AST) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
        isinstance(node, ast.Name) and node.id == "environ"
    )


def _env_reads() -> tuple[dict[str, list[str]], list[str]]:
    """(literal key -> sites, sites whose key is not a string literal)."""
    keys: dict[str, list[str]] = {}
    opaque: list[str] = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        covered: set[int] = set()
        for node in ast.walk(tree):
            key = None
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
                f = node.func
                if (f.attr in ("get", "pop", "setdefault") and _is_environ(f.value)) or (
                    f.attr == "getenv"
                ):
                    covered.add(id(f.value))
                    key = node.args[0] if node.args else None
                else:
                    continue
            elif isinstance(node, ast.Subscript) and _is_environ(node.value):
                covered.add(id(node.value))
                key = node.slice
            else:
                continue
            site = f"{path.relative_to(PKG)}:{node.lineno}"
            if isinstance(key, ast.Constant) and isinstance(key.value, str):
                keys.setdefault(key.value, []).append(site)
            else:
                opaque.append(site)
        for node in ast.walk(tree):
            if _is_environ(node) and id(node) not in covered:
                opaque.append(f"{path.relative_to(PKG)}:{node.lineno}")
    return keys, opaque


def test_package_reads_only_ledgered_env_vars():
    keys, opaque = _env_reads()
    assert not opaque, f"environment accessed without a literal key: {opaque}"
    unlisted = {k: v for k, v in keys.items() if k not in ENV_LEDGER}
    assert not unlisted, f"env vars read but not in ENV_LEDGER: {unlisted}"
    stale = set(ENV_LEDGER) - set(keys)
    assert not stale, f"ENV_LEDGER entries the package no longer reads: {stale}"


def test_lineage_cuts_only_in_session():
    offenders = [
        f"{path.relative_to(PKG)}:{i}"
        for path in sorted(PKG.rglob("*.py"))
        if path.name != "session.py" or path.parent != PKG
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if "localCheckpoint(" in line or ".checkpoint(" in line
    ]
    assert not offenders, f"lineage cuts outside session.materialize: {offenders}"
