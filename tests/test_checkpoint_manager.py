"""The session's streaming checkpoint manager (session.py docstring):
which class every stream gets, and the create-if-absent guard the offset
log relies on against a concurrent writer."""

from __future__ import annotations

import pytest
from py4j.protocol import Py4JJavaError

from redshift_etl_spark.session import CHECKPOINT_FILE_MANAGER


def _manager(spark, path):
    """The manager Spark's streaming logs build for ``path``, and the
    Hadoop path itself."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path.as_uri())
    hconf = spark._jsparkSession.sessionState().newHadoopConf()
    cfm = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    return cfm.CheckpointFileManager.create(jpath, hconf), jpath


def test_session_streams_use_filesystem_checkpoint_manager(spark, tmp_path):
    mgr, _ = _manager(spark, tmp_path)
    assert mgr.getClass().getName() == CHECKPOINT_FILE_MANAGER


def test_create_atomic_refuses_existing_file_and_keeps_its_bytes(
    spark, tmp_path
):
    """Two writers racing for one offset-log batch: the loser's
    ``createAtomic(..., overwriteIfPossible=False)`` fails on close and
    the winner's file is untouched."""
    target = tmp_path / "0"
    target.write_bytes(b"v1\nwinner\n")
    mgr, jtarget = _manager(spark, target)

    out = mgr.createAtomic(jtarget, False)
    out.write(bytearray(b"v1\nloser\n"))
    with pytest.raises(Py4JJavaError) as err:
        out.close()
    assert "FileAlreadyExistsException" in str(err.value.java_exception)
    assert target.read_bytes() == b"v1\nwinner\n"
