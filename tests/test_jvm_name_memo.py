"""session.memoize_jvm_names: py4j resolves each JVM name once per
gateway client. A warm slot build sends no reflection command; a
static field is still read on every access; a failed lookup is never
kept; a new java_import drops the view's bare-name answers; a second
install changes nothing. The memo wraps private py4j attributes, so
the installed py4j's shape is pinned here: an upgrade fails this
module instead of silently skipping the memo."""

from __future__ import annotations

import inspect
import json
import os

import pytest
from py4j import java_gateway as jg
from py4j.clientserver import ClientServerConnection
from py4j.protocol import REFLECTION_COMMAND_NAME, Py4JError

from dask_awkward_sandbox_spark import session

PERFBENCH = os.path.join(session.ROOT, "perfbench", "workloads.json")


@pytest.fixture
def reflections(monkeypatch):
    """The reflection commands sent while the test runs (one entry per
    command), counted at the connection that sends them."""
    sent: list[str] = []
    send = ClientServerConnection.send_command

    def counted(self, command):
        if command.startswith(REFLECTION_COMMAND_NAME):
            sent.append(command)
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    return sent


def test_installed_py4j_shape_is_the_one_the_memo_wraps(spark):
    """The memo keys on ``JVMView._id``, ``JavaPackage._jvm_id/_fqn``
    and ``JavaClass._fqn``, and wraps each class's ``__getattr__``,
    which must be where py4j sends the reflection command."""
    import py4j.version

    assert py4j.version.__version__ == "0.10.9.9", (
        "py4j changed: re-check session.memoize_jvm_names against it"
    )
    jvm = spark.sparkContext._jvm
    assert {"_id", "_gateway_client"} <= set(vars(jvm))
    pkg = jvm.java.util
    assert isinstance(pkg, jg.JavaPackage)
    assert {"_fqn", "_jvm_id", "_gateway_client"} <= set(vars(pkg))
    cls = jvm.java.util.Collections
    assert isinstance(cls, jg.JavaClass)
    assert {"_fqn", "_gateway_client"} <= set(vars(cls))
    for c in (jg.JVMView, jg.JavaPackage, jg.JavaClass):
        original = c.__getattr__.__wrapped__
        assert "REFLECTION_COMMAND_NAME" in inspect.getsource(original), c


def test_second_install_does_not_wrap_twice(spark):
    before = {c: c.__getattr__ for c in (jg.JVMView, jg.JavaPackage, jg.JavaClass)}
    java_import = jg.java_import
    session.memoize_jvm_names()
    for c, f in before.items():
        assert c.__getattr__ is f
        assert not hasattr(f.__wrapped__, "__wrapped__"), c
    assert jg.java_import is java_import
    assert not hasattr(java_import.__wrapped__, "__wrapped__")


def test_perfbench_slots_warm_build_sends_no_reflection(spark, sf, reflections):
    """Every slot of both perfbench workloads, built once cold and then
    counted warm: the build resolves every JVM name from the memo."""
    from dask_awkward_sandbox_spark.plans import QUERIES

    with open(PERFBENCH) as f:
        workloads = json.load(f)["workloads"]
    slots = [s for w in workloads.values() for s in w["slots"]]
    assert len(slots) == 12
    for name in slots:
        QUERIES[name](spark, sf)
    spark.catalog.clearCache()
    sent = {}
    for name in slots:
        n0 = len(reflections)
        QUERIES[name](spark, sf)
        sent[name] = len(reflections) - n0
    spark.catalog.clearCache()
    assert sent == dict.fromkeys(slots, 0), sent


def test_static_field_is_read_fresh(spark, reflections):
    jvm = spark.sparkContext._jvm
    assert jvm.java.lang.Integer.MAX_VALUE == 2**31 - 1
    n0 = len(reflections)
    assert jvm.java.lang.Integer.MAX_VALUE == 2**31 - 1
    assert jvm.java.lang.Integer.MAX_VALUE == 2**31 - 1
    assert len(reflections) - n0 == 2


def test_static_method_is_kept(spark, reflections):
    jvm = spark.sparkContext._jvm
    assert jvm.java.lang.Integer.toHexString(255) == "ff"
    n0 = len(reflections)
    assert jvm.java.lang.Integer.toHexString(255) == "ff"
    assert len(reflections) == n0


def test_missing_name_raises_every_time(spark, reflections):
    missing = spark.sparkContext._jvm.java.util.Map
    for _ in range(3):
        n0 = len(reflections)
        with pytest.raises(Py4JError, match="does not exist in the JVM"):
            missing.NoSuchNestedClass
        assert len(reflections) - n0 == 1


def test_java_import_drops_the_views_bare_names(spark):
    """A bare name py4j answered as a package becomes a class once it
    is imported into the view; the same import again keeps the memo."""
    gateway = spark.sparkContext._gateway
    view = gateway.new_jvm_view()
    assert isinstance(view.AtomicLong, jg.JavaPackage)
    jg.java_import(view, "java.util.concurrent.atomic.AtomicLong")
    cls = view.AtomicLong
    assert isinstance(cls, jg.JavaClass)
    jg.java_import(view, "java.util.concurrent.atomic.AtomicLong")
    assert view.AtomicLong is cls
