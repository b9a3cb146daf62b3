"""Session scratch locations: tmpfs only when asked for."""

import os
import tempfile

import numpy as np
import pandas as pd

from xagg_spark.session import pandas_to_spark_blocks


def test_session_scratch_is_not_tmpfs_unasked(spark):
    """spark.local.dir comes from XAGG_SPARK_LOCAL_DIR alone: without it
    the session never points shuffle/spill scratch at /dev/shm."""
    if "XAGG_SPARK_LOCAL_DIR" in os.environ:
        assert (spark.sparkContext.getConf().get("spark.local.dir")
                == os.environ["XAGG_SPARK_LOCAL_DIR"])
    else:
        local = spark.sparkContext.getConf().get("spark.local.dir") or ""
        assert not local.startswith("/dev/shm"), local


def test_pandas_to_spark_blocks_scratch_follows_local_dir(spark, monkeypatch,
                                                          tmp_path):
    """The parquet scratch goes under spark.local.dir when set, else the
    system temp dir (which honours TMPDIR) — never /dev/shm unasked — and
    is deleted once the blocks are materialized."""
    made = []
    mkdtemp = tempfile.mkdtemp

    def spy(*args, **kwargs):
        made.append(mkdtemp(*args, **kwargs))
        return made[-1]

    monkeypatch.setattr(tempfile, "mkdtemp", spy)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    pdf = pd.DataFrame({"a": np.arange(50, dtype=np.int64),
                        "b": np.linspace(0.0, 1.0, 50)})
    got = pandas_to_spark_blocks(spark, pdf).toPandas().sort_values("a")
    pd.testing.assert_frame_equal(got.reset_index(drop=True), pdf)
    local = spark.sparkContext.getConf().get("spark.local.dir")
    want = local.split(",")[0] if local else str(tmp_path)
    assert len(made) == 1
    assert os.path.dirname(made[0]) == want
    assert not os.path.exists(made[0])


def test_pandas_to_spark_blocks_emits_no_warning(spark):
    """The chunks are iloc row ranges: no pandas deprecation warning on
    the way, and every row arrives once."""
    import warnings

    pdf = pd.DataFrame({"a": np.arange(10, dtype=np.int64),
                        "b": np.linspace(0.0, 1.0, 10)})
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        # py4j sockets closed by the garbage collector, not the call
        warnings.simplefilter("ignore", ResourceWarning)
        got = pandas_to_spark_blocks(spark, pdf).toPandas()
    pd.testing.assert_frame_equal(
        got.sort_values("a").reset_index(drop=True), pdf)
