"""The settings module: the typed ``spark.myfitnesspaw.*`` reader, the
scoped conf override, and a lint that keeps both the only copies.

Lint rules (AST walk over the package, allowlisted like
test_broadcast_lint.py):

- Outside ``config.py`` no ``conf.unset`` call and no ``conf.set``
  inside a ``try``/``finally``: a span-scoped conf change goes through
  ``config.conf_override``.  Hand-rolled copies restored the prior
  value only when there was one, which pinned the override on
  sessions where the conf was never set.
- ``os.environ`` / ``os.getenv`` are read only at the driver-contract
  sites below; every engine knob is a session conf read through
  ``config``.
"""

from __future__ import annotations

import ast
import os

import pytest

from myfitnesspaw_spark import config

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "myfitnesspaw_spark")

# (relative file, enclosing function) -> (n_reads, reason)
ENV_ALLOWED = {
    ("session.py", "get_spark"): (2, "SPARK_GRAFT_CPUS, SPARK_DRIVER_MEMORY: driver contract"),
    ("sources/tables.py", "<module>"): (1, "SPARK_GRAFT_SF_DIR: driver contract"),
}


class _Conf:
    def __init__(self, values):
        self.values = dict(values)

    def get(self, key, default=None):
        return self.values.get(key, default)

    def set(self, key, value):
        self.values[key] = value

    def unset(self, key):
        self.values.pop(key, None)


class _Session:
    def __init__(self, **values):
        self.conf = _Conf({config.PREFIX + k: v for k, v in values.items()})


def test_bool_knob_accepts_exactly_true_false_one_zero():
    for raw, want in [("true", True), ("TRUE", True), ("1", True), ("False", False), ("0", False)]:
        assert config.store_rebalance(_Session(**{"store.rebalance": raw})) is want
    assert config.store_rebalance(_Session()) is True
    for raw in ["off", "no", "fasle", "yes", "2"]:
        with pytest.raises(ValueError, match=rf"spark\.myfitnesspaw\.store\.rebalance='{raw}'"):
            config.store_rebalance(_Session(**{"store.rebalance": raw}))


def test_int_knob_parses_and_meets_minimum():
    assert config.store_buckets(_Session()) == 8
    assert config.store_buckets(_Session(**{"store.buckets": "0"})) == 0
    assert config.store_buckets(_Session(**{"store.buckets": " 16 "})) == 16
    for raw in ["-1", "eight", "8.0", "1e3"]:
        with pytest.raises(ValueError, match=rf"spark\.myfitnesspaw\.store\.buckets='{raw}'"):
            config.store_buckets(_Session(**{"store.buckets": raw}))
    with pytest.raises(ValueError, match="stateShufflePartitions='0'"):
        config.state_shuffle_partitions(_Session(stateShufflePartitions="0"))
    assert config.state_shuffle_partitions(_Session(stateShufflePartitions="3")) == 3


def test_conf_override_restores_prior_or_unsets():
    s = _Session()
    s.conf.set("k", "5")
    with config.conf_override(s, "k", 7):
        assert s.conf.get("k") == "7"
        with config.conf_override(s, "fresh", 1):
            assert s.conf.get("fresh") == "1"
        assert "fresh" not in s.conf.values
    assert s.conf.get("k") == "5"
    with pytest.raises(RuntimeError):
        with config.conf_override(s, "fresh", 1):
            raise RuntimeError
    assert "fresh" not in s.conf.values


def _is_conf_call(node: ast.AST, method: str) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == method
        and isinstance(node.func.value, ast.Attribute)
        and node.func.value.attr == "conf"
    )


def _is_env_read(node: ast.AST) -> bool:
    if isinstance(node, ast.Attribute) and node.attr in ("environ", "getenv"):
        return isinstance(node.value, ast.Name) and node.value.id in ("os", "_os")
    if isinstance(node, ast.ImportFrom) and node.module == "os":
        return any(a.name in ("environ", "getenv") for a in node.names)
    return False


def _package_sites():
    """(rel, function, kind) for every conf-scoping or env-read site."""
    sites = []
    for dirpath, _, files in os.walk(PKG):
        if "__pycache__" in dirpath:
            continue
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            rel = os.path.relpath(path, PKG)
            tree = ast.parse(open(path).read())

            class V(ast.NodeVisitor):
                def __init__(self):
                    self.stack = []

                def visit_FunctionDef(self, n):
                    self.stack.append(n.name)
                    self.generic_visit(n)
                    self.stack.pop()

                visit_AsyncFunctionDef = visit_FunctionDef

                def generic_visit(self, n):
                    ctx = self.stack[-1] if self.stack else "<module>"
                    if _is_conf_call(n, "unset"):
                        sites.append((rel, ctx, "conf.unset"))
                    if isinstance(n, ast.Try) and n.finalbody:
                        if any(_is_conf_call(c, "set") for c in ast.walk(n)):
                            sites.append((rel, ctx, "conf.set in try/finally"))
                    if _is_env_read(n):
                        sites.append((rel, ctx, "env"))
                    super().generic_visit(n)

            V().visit(tree)
    return sites


def test_scoped_conf_changes_only_in_config():
    bad = [s for s in _package_sites() if s[2] != "env" and s[0] != "config.py"]
    assert not bad, (
        f"Hand-rolled session-conf save/restore at {bad}: use "
        "myfitnesspaw_spark.config.conf_override, which unsets a key that "
        "had no prior value."
    )


def test_env_reads_are_allowlisted():
    counts: dict[tuple[str, str], int] = {}
    for rel, ctx, kind in _package_sites():
        if kind == "env":
            counts[(rel, ctx)] = counts.get((rel, ctx), 0) + 1
    extra = {k: v for k, v in counts.items() if k not in ENV_ALLOWED}
    assert not extra, (
        f"os.environ read at {extra}: engine knobs are spark.myfitnesspaw.* "
        "session confs read through myfitnesspaw_spark.config."
    )
    changed = {k: (v, ENV_ALLOWED[k][0]) for k, v in counts.items() if v != ENV_ALLOWED[k][0]}
    assert not changed, f"Env read count changed (got, allowed): {changed}"
    gone = [k for k in ENV_ALLOWED if k not in counts]
    assert not gone, f"Stale ENV_ALLOWED entries: {gone}"
