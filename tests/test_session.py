"""Session defaults: the driver heap follows the host unless overridden."""

from __future__ import annotations

from nous_spark.session import driver_memory


def test_driver_memory_env_override_wins(monkeypatch, tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       16479424 kB\n")
    monkeypatch.setenv("NOUS_SPARK_DRIVER_MEM", "1g")
    assert driver_memory(str(meminfo)) == "1g"
    assert driver_memory(str(tmp_path / "absent")) == "1g"


def test_driver_memory_default_is_a_third_of_memtotal_capped_at_48g(monkeypatch, tmp_path):
    monkeypatch.delenv("NOUS_SPARK_DRIVER_MEM", raising=False)
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       16479424 kB\nMemFree:         9000000 kB\n")
    assert driver_memory(str(meminfo)) == "5364m"  # 15.7 GiB host
    meminfo.write_text("MemFree:         9000000 kB\nMemTotal:      1056439960 kB\n")
    assert driver_memory(str(meminfo)) == "49152m"  # 1 TiB host: the 48g cap
    assert driver_memory(str(tmp_path / "absent")) == "48g"
