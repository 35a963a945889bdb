"""The session factory's env-gated production configs (guide §2.3/§6):
the 100 TB codec settings are code, not commentary — but the BENCH
defaults must stay byte-identical to what every recorded per-key
minimum was measured under (parquet snappy, shuffle io lz4)."""

from tiny_md_hbase_spark.session import _prod_configs


def test_bench_defaults_unchanged(spark, monkeypatch):
    # the shared test session is built WITHOUT the prod flag: it must
    # run on Spark's stock codecs — the conditions of every recorded
    # bench number
    monkeypatch.delenv("SPARK_GRAFT_PROD", raising=False)
    assert _prod_configs() == {}
    assert (
        spark.conf.get("spark.sql.parquet.compression.codec") == "snappy"
    )
    # a core (non-SQL) conf: absent from SparkConf means Spark's lz4
    # default is in force
    assert (
        spark.sparkContext.getConf().get("spark.io.compression.codec", "lz4")
        == "lz4"
    )


def test_prod_flag_promotes_zstd(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_PROD", "1")
    confs = _prod_configs()
    assert confs["spark.sql.parquet.compression.codec"] == "zstd"
    assert confs["spark.io.compression.codec"] == "zstd"
    # "0" and empty both mean off — the gate is explicit opt-in
    monkeypatch.setenv("SPARK_GRAFT_PROD", "0")
    assert _prod_configs() == {}
    monkeypatch.setenv("SPARK_GRAFT_PROD", "")
    assert _prod_configs() == {}


def test_driver_memory_sized_from_host(monkeypatch):
    import os

    from tiny_md_hbase_spark.session import _driver_memory

    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert _driver_memory() == "3g"
    # unset: half the host's RAM, never the old fixed 32g on a smaller host
    monkeypatch.delenv("SPARK_DRIVER_MEMORY")
    host_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    got = _driver_memory()
    assert got.endswith("m")
    assert int(got[:-1]) == max(host_mb // 2, 1024)


def test_catalog_dirs_under_system_temp(spark, monkeypatch, tmp_path):
    import tempfile

    from tiny_md_hbase_spark.session import _host_configs

    # the shared session was built with the process's temp dir
    assert spark.conf.get("spark.sql.warehouse.dir").startswith(
        ("file:" + tempfile.gettempdir(), tempfile.gettempdir())
    )
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    confs = _host_configs()
    assert confs["spark.sql.warehouse.dir"] == f"{tmp_path}/tiny_md_hbase_spark_warehouse"
    assert f"-Dderby.system.home={tmp_path}/tiny_md_hbase_spark_metastore" in (
        confs["spark.driver.extraJavaOptions"]
    )
