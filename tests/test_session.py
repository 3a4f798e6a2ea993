"""DataFrame construction cost: a session from ``get_spark`` builds frames
without PySpark's per-call origin capture, and the JVM classes PySpark
names on every Column and functions call are pinned on the gateway's
``JVMView`` instead of being looked up (a bare name scans the class path on
every miss)."""

import pytest
from py4j import clientserver
from pyspark.errors import AnalysisException

from mindsdb_spark.catalog import load_table
from mindsdb_spark.operators.dedup import minhash_signatures, shingle_hashes
from mindsdb_spark.queries.pipeline import d44_curation_v2
from mindsdb_spark.session import _JVM_CLASSES, apply_runtime_tuning, pin_jvm_classes

# py4j's reflection command for a name on a JVMView: "r\nu\n<name>\n..."
_LOOKUP = "r\nu\n"


def _commands(build) -> list[str]:
    """Every py4j command ``build()`` sends."""
    sent = []
    orig = clientserver.ClientServerConnection.send_command

    def send_command(self, command):
        sent.append(command)
        return orig(self, command)

    clientserver.ClientServerConnection.send_command = send_command
    try:
        build()
    finally:
        clientserver.ClientServerConnection.send_command = orig
    return sent


@pytest.mark.parametrize("pipeline", ["minhash", "d44_curation_v2"])
def test_build_sends_no_bare_lookup_and_no_origin_capture(spark, sf_dir, pipeline):
    def build():
        if pipeline == "minhash":
            minhash_signatures(shingle_hashes(load_table(spark, sf_dir, "documents")))
        else:
            d44_curation_v2(spark, sf_dir)

    sent = _commands(build)
    assert sent  # the wrapper sees the session's traffic
    lookups = [c.split("\n")[2] for c in sent if c.startswith(_LOOKUP)]
    assert [n for n in lookups if "." not in n] == []
    assert [c for c in sent if "PySparkCurrentOrigin" in c] == []


def test_get_spark_turns_origin_capture_off(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_pinned_classes_are_stable(spark):
    pinned = vars(spark._jvm)
    names = [n for fqn, bare in _JVM_CLASSES for n in (fqn, bare) if n]
    before = {n: pinned[n] for n in names}
    for fqn, bare in _JVM_CLASSES:
        assert before[fqn]._fqn == fqn
        if bare:
            assert before[bare] is before[fqn]
    pin_jvm_classes(spark)
    apply_runtime_tuning(spark)
    apply_runtime_tuning(spark.newSession())
    assert all(pinned[n] is before[n] for n in names)


def test_runtime_tuning_pins_a_host_session(spark):
    """A session the engine did not build gets the classes pinned by
    ``apply_runtime_tuning``."""
    pinned = vars(spark._jvm)
    saved = {n: pinned.pop(n) for fqn, bare in _JVM_CLASSES for n in (fqn, bare) if n}
    try:
        apply_runtime_tuning(spark.newSession())
        assert all(pinned[n]._fqn == saved[n]._fqn for n in saved)
    finally:
        pinned.update(saved)


def test_dataframe_error_still_names_its_cause(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    with pytest.raises(AnalysisException, match="no_such_col"):
        docs.select("no_such_col")
