"""Session factory: a setting that cannot apply must not vanish quietly."""

from __future__ import annotations

import logging

from iscc_specs_spark.session import get_spark


def test_get_spark_warns_when_jvm_options_are_dropped(spark, monkeypatch, caplog):
    # the test session's JVM was started by get_spark: attaching again with
    # the same options drops nothing
    with caplog.at_level(logging.WARNING, logger="iscc_specs_spark.session"):
        assert get_spark("iscc-tests", cores=4, shuffle_partitions=8) is spark
    assert not caplog.records
    # an option the running JVM was not started with cannot take effect
    monkeypatch.setenv(
        "SPARK_GRAFT_JVM_OPTS", "-XX:-DontCompileHugeMethods -Dgraft.never.set=1"
    )
    with caplog.at_level(logging.WARNING, logger="iscc_specs_spark.session"):
        get_spark("iscc-tests", cores=4, shuffle_partitions=8)
    assert "-Dgraft.never.set=1" in caplog.text
    assert "DontCompileHugeMethods" not in caplog.text
