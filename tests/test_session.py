"""The local session's machine-derived driver heap default."""

from __future__ import annotations

from s3_glue_redshift_guide_spark.session import _default_driver_mem


def _meminfo(tmp_path, total_kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(
        f"MemTotal:       {total_kb} kB\n"
        "MemFree:         1234567 kB\n"
        "MemAvailable:    2345678 kB\n"
    )
    return str(p)


def test_driver_heap_is_half_of_memtotal(tmp_path):
    # a 15.7 GiB box gets about 7.8 GiB, not the old fixed 24g
    assert _default_driver_mem(_meminfo(tmp_path, 16_465_000)) == "8039m"
    assert _default_driver_mem(_meminfo(tmp_path, 4 << 20)) == "2048m"


def test_driver_heap_never_above_24g(tmp_path):
    assert _default_driver_mem(_meminfo(tmp_path, 256 << 20)) == "24576m"


def test_driver_heap_without_meminfo(tmp_path):
    assert _default_driver_mem(str(tmp_path / "missing")) == "24g"
