"""Driver heap default: sized from the host's memory (MemTotal or the
cgroup limit, whichever is smaller), at 60% and never above 16g."""

from __future__ import annotations

from osm_poi_matchmaker_spark.session import default_driver_memory


def _meminfo(tmp_path, kib: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {kib} kB\nMemFree:        1024 kB\n")
    return str(p)


def _limit(tmp_path, name: str, text: str) -> str:
    p = tmp_path / name
    p.write_text(text)
    return str(p)


def test_sixty_percent_of_meminfo(tmp_path):
    # 16,479,424 kB MemTotal, no cgroup limit
    mem = _meminfo(tmp_path, 16_479_424)
    assert default_driver_memory(mem, ()) == "9655m"
    unlimited = _limit(tmp_path, "memory.max", "max\n")
    assert default_driver_memory(mem, (unlimited,)) == "9655m"


def test_cgroup_limit_wins_when_smaller(tmp_path):
    mem = _meminfo(tmp_path, 64 * 1024 * 1024)
    v2 = _limit(tmp_path, "memory.max", f"{4 << 30}\n")
    assert default_driver_memory(mem, (v2,)) == f"{4 * 1024 * 6 // 10}m"
    # cgroup v1 "unlimited" is a huge number: MemTotal (capped) applies
    v1 = _limit(tmp_path, "limit_in_bytes", "9223372036854771712\n")
    assert default_driver_memory(_meminfo(tmp_path, 8 * 1024 * 1024), (v1,)) == (
        f"{8 * 1024 * 6 // 10}m"
    )


def test_capped_and_fallback(tmp_path):
    big = _meminfo(tmp_path, 256 * 1024 * 1024)
    assert default_driver_memory(big, ()) == "16384m"
    missing = str(tmp_path / "absent")
    assert default_driver_memory(missing, (missing,)) == "16384m"
