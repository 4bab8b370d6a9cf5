"""session.default_driver_memory: the driver heap used when
SPARK_GRAFT_DRIVER_MEM is unset."""

from duckdb_routing_spark.session import default_driver_memory


def _meminfo(tmp_path, kb):
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {kb} kB\nMemFree:        1024 kB\n")
    return str(p)


def test_half_of_physical_memory(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, 16 * 1024 * 1024)) == "8192m"


def test_capped_at_48g(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, 256 * 1024 * 1024)) == "49152m"


def test_floor_on_tiny_hosts(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, 1024 * 1024)) == "1024m"


def test_no_meminfo_falls_back_to_cap(tmp_path):
    assert default_driver_memory(str(tmp_path / "missing")) == "48g"
