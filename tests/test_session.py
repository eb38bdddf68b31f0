"""Session defaults that need no JVM."""

from ps_projekt_pagerank_spark.session import default_driver_memory


def test_default_driver_memory_is_half_of_memtotal(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       16456384 kB\nMemFree:  1024 kB\n")
    assert default_driver_memory(str(meminfo)) == "7g"
    meminfo.write_text("MemTotal:        1000000 kB\n")
    assert default_driver_memory(str(meminfo)) == "1g"  # floor
    assert default_driver_memory(str(tmp_path / "absent")) == "1g"
