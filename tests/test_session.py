"""Session and lineage-cut rules, pinned without a Spark session.

- every lineage cut in the package is materialized when it is taken:
  no ``localCheckpoint``/``checkpoint``/``materialize`` call passes
  ``eager=``, and ``materialize`` has no such parameter;
- no package code raises ``spark.sql.broadcastTimeout`` (no query may
  depend on a session conf it does not own);
- ``tune_session`` raises when a semantic conf cannot be applied, and
  keeps going when a perf conf cannot;
- ``tune_session`` sizes the shuffle width to the session's cores;
- the ANN family ranks through one function: a ``row_number()`` window
  partitioned by ``query_id`` is built in one function only.
"""

from __future__ import annotations

import ast
import inspect
import logging
import pathlib

import pytest

from tugas_2_big_data_spark import session
from tugas_2_big_data_spark.operators import checkpointing

PKG = pathlib.Path(session.__file__).parent
CUTS = {"localCheckpoint", "checkpoint", "materialize"}


def _package_trees():
    for path in sorted(PKG.rglob("*.py")):
        yield path, ast.parse(path.read_text(), filename=str(path))


def _callee(call: ast.Call) -> str | None:
    if isinstance(call.func, ast.Attribute):
        return call.func.attr
    if isinstance(call.func, ast.Name):
        return call.func.id
    return None


def test_no_cut_takes_an_eager_keyword():
    offenders = [
        f"{path.relative_to(PKG.parent)}:{node.lineno}"
        for path, tree in _package_trees()
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and _callee(node) in CUTS
        and any(kw.arg == "eager" for kw in node.keywords)
    ]
    assert offenders == []


def test_materialize_has_no_eager_parameter():
    params = inspect.signature(checkpointing.materialize).parameters
    assert list(params) == ["df", "checkpoint_dir"]


def test_no_package_code_names_broadcast_timeout():
    offenders = [
        f"{path.relative_to(PKG.parent)}:{node.lineno}"
        for path, tree in _package_trees()
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and "broadcastTimeout" in node.value
    ]
    assert offenders == []


def test_one_function_builds_the_per_query_topk_window():
    """Per module-level function, nested helpers included: only
    `similarity._topk` builds a row_number() window partitioned by
    query_id."""
    builders = []
    for rel in ("operators/similarity.py", "queries_training.py"):
        tree = ast.parse((PKG / rel).read_text())
        for fn in tree.body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            calls = [n for n in ast.walk(fn) if isinstance(n, ast.Call)]
            per_query = any(
                _callee(c) == "partitionBy"
                and any(
                    isinstance(a, ast.Constant) and a.value == "query_id"
                    for a in c.args
                )
                for c in calls
            )
            if per_query and any(_callee(c) == "row_number" for c in calls):
                builders.append(f"{rel}:{fn.name}")
    assert builders == ["operators/similarity.py:_topk"]


class _StubConf:
    def __init__(self, refuse=(), misreport=()):
        self.values: dict[str, str] = {}
        self.refuse = set(refuse)
        self.misreport = set(misreport)

    def set(self, key, value):
        if key in self.refuse:
            raise ValueError(f"cannot modify {key}")
        self.values[key] = value

    def get(self, key):
        return "bogus" if key in self.misreport else self.values[key]


class _StubContext:
    applicationId = "stub-session"

    def addPyFile(self, path):
        pass


class _StubSession:
    def __init__(self, **conf_kw):
        self.conf = _StubConf(**conf_kw)
        self.sparkContext = _StubContext()


def test_tune_session_sets_the_shared_table_and_no_broadcast_timeout():
    stub = _StubSession()
    session.tune_session(stub)
    assert stub.conf.values == {**session.SEMANTIC_CONF, **session.PERF_CONF}
    assert "spark.sql.broadcastTimeout" not in stub.conf.values


def test_tune_session_raises_when_time_zone_is_refused():
    stub = _StubSession(refuse={"spark.sql.session.timeZone"})
    with pytest.raises(RuntimeError, match="spark.sql.session.timeZone"):
        session.tune_session(stub)


def test_tune_session_raises_when_ansi_reads_back_different():
    stub = _StubSession(misreport={"spark.sql.ansi.enabled"})
    with pytest.raises(RuntimeError, match="spark.sql.ansi.enabled"):
        session.tune_session(stub)


def test_tune_session_perf_conf_is_best_effort(caplog):
    refused = "spark.sql.adaptive.skewJoin.enabled"
    stub = _StubSession(refuse={refused})
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        session.tune_session(stub)
    assert refused not in stub.conf.values
    assert stub.conf.values["spark.sql.session.timeZone"] == "UTC"
    assert refused in caplog.text


def test_tune_session_sets_shuffle_width_to_default_parallelism():
    stub = _StubSession()
    stub.sparkContext.defaultParallelism = 3
    session.tune_session(stub)
    assert stub.conf.values["spark.sql.shuffle.partitions"] == "3"
