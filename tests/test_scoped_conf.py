"""The one scoped-conf helper (session.scoped_conf) must restore the
previous session value — set OR unset — on both clean exit and
exception, and the package sites routed through it must never pin a
conf's default as an explicit session value."""

import warnings

import pytest

from dask_awkward_sandbox_spark import session
from dask_awkward_sandbox_spark.session import _raw_conf_get, scoped_conf

KEY = "spark.sql.shuffle.partitions"


def test_scoped_conf_restores_previous_value(spark):
    prev = spark.conf.get(KEY)
    with scoped_conf(spark, KEY, "7"):
        assert spark.conf.get(KEY) == "7"
    assert spark.conf.get(KEY) == prev


def test_scoped_conf_restores_on_exception(spark):
    prev = spark.conf.get(KEY)
    with pytest.raises(RuntimeError):
        with scoped_conf(spark, KEY, "7"):
            raise RuntimeError("boom")
    assert spark.conf.get(KEY) == prev


def test_scoped_conf_unsets_when_previously_unset(spark):
    key = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    # ensure unset going in
    try:
        spark.conf.unset(key)
    except Exception:
        pass
    with scoped_conf(spark, key, "true"):
        assert spark.conf.get(key) == "true"
    # restored to the session default (the conf's default value)
    assert spark.conf.get(key) == "false"


def _run_stream_sessionize(spark, sf, tmp_path):
    from dask_awkward_sandbox_spark.plans.events import q_stream_sessionize

    q_stream_sessionize(spark, sf).count()


@pytest.mark.parametrize(
    "key, run",
    [
        ("spark.sql.shuffle.partitions", _run_stream_sessionize),
    ],
    ids=["q_stream_sessionize"],
)
def test_package_scopes_leave_unset_key_unset(spark, sf, tmp_path, key, run):
    prev = _raw_conf_get(spark, key)
    spark.conf.unset(key)
    try:
        run(spark, sf, tmp_path)
        assert _raw_conf_get(spark, key) is None
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)  # the fixture's "8" for shuffle partitions


class _PublicConfOnly:
    """A session stand-in without the JVM-internal settings map."""

    class conf:
        @staticmethod
        def get(key, default=None):
            return "public"


def test_raw_conf_get_fallback_warns_once(monkeypatch):
    monkeypatch.setattr(session, "_warned_conf_fallback", False)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert _raw_conf_get(_PublicConfOnly, KEY) == "public"
        assert _raw_conf_get(_PublicConfOnly, KEY) == "public"
    assert len([w for w in caught if issubclass(w.category, RuntimeWarning)]) == 1
