"""Session defaults that do not need a running Spark session."""

from __future__ import annotations

from transit_feed_etl_spark.session import default_driver_memory


def test_default_driver_memory_is_half_of_physical(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       16252928 kB\nMemFree:         1000 kB\n")
    assert default_driver_memory(str(meminfo)) == "7g"
    meminfo.write_text("MemTotal:        1048576 kB\n")
    assert default_driver_memory(str(meminfo)) == "1g"  # never below 1g
    assert default_driver_memory(str(tmp_path / "absent")) == "4g"
