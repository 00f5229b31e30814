"""Guard against env-knob creep: the engine package reads only the
deployment settings below plus one capacity switch. A new A/B arm
behind an environment variable must edit this allowlist, where review
sees it; settled arms are deleted, keeping only the winning branch."""

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "streams_prototyping_spark"

ALLOWED = {
    # deployment settings
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_MASTER",
    "SPARK_GRAFT_SHUFFLE_PARTITIONS",
    "SPARK_GRAFT_WAREHOUSE",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_EXTRA_CONF",
    "SPARK_GRAFT_SF_DIR",
    # the sq8 disk-bound carry for the banded near-dup self-join
    # (scripts/sf100_sweep.py)
    "SPARK_GRAFT_NEAR_DUP_CARRY",
}


def _is_environ(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == "environ"
        and isinstance(node.value, ast.Name)
        and node.value.id == "os"
    )


def _env_reads(tree: ast.AST):
    """Yield (lineno, name-or-None) for every os.environ / os.getenv
    read; None marks a non-literal key, which the guard cannot vet."""
    for node in ast.walk(tree):
        key = None
        if isinstance(node, ast.Subscript) and _is_environ(node.value):
            key = node.slice
        elif isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            f = node.func
            is_getenv = (
                f.attr == "getenv"
                and isinstance(f.value, ast.Name)
                and f.value.id == "os"
            )
            if (_is_environ(f.value) or is_getenv) and node.args:
                key = node.args[0]
            else:
                continue
        else:
            continue
        ok = isinstance(key, ast.Constant) and isinstance(key.value, str)
        yield node.lineno, key.value if ok else None


def test_package_env_reads_are_the_allowlist():
    found, dynamic = set(), []
    for path in sorted(PKG.rglob("*.py")):
        for lineno, name in _env_reads(ast.parse(path.read_text())):
            if name is None:
                dynamic.append(f"{path.relative_to(PKG)}:{lineno}")
            else:
                found.add(name)
    assert not dynamic, f"non-literal env reads: {dynamic}"
    assert found == ALLOWED
