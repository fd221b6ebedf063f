"""Driver heap sizing from the host (no Spark session needed)."""

from __future__ import annotations

from relieff_lsh_spark.session import GIB, _driver_mem, default_driver_mem


def test_default_driver_heap_leaves_room_for_workers_and_os():
    # 4 vCPU, 15.7 GiB: (15.7 - 4 * 0.5 - 2) / 2 = 5.85 -> 5g; the
    # pre-touched heap never claims the whole host
    assert default_driver_mem(int(15.7 * GIB), 4) == "5g"
    assert default_driver_mem(256 * GIB, 32) == "16g"  # clamped above
    assert default_driver_mem(2 * GIB, 4) == "1g"      # clamped below


def test_driver_mem_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert _driver_mem() == "3g"
