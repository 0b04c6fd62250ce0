"""Driver heap sizing: the pinned, pre-touched default heap must fit the
host it starts on."""

from geo_spark.session import default_driver_memory


def _meminfo(tmp_path, total_kb):
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {total_kb} kB\nMemFree:        1024 kB\n")
    return str(p)


def test_default_heap_is_forty_percent_of_a_small_host(tmp_path):
    # a 15 GiB host gets a 6 GiB heap, not the 20g ceiling it cannot map
    assert default_driver_memory(_meminfo(tmp_path, 15 * 1024 * 1024)) == "6144m"


def test_default_heap_is_capped_on_a_large_host(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, 125 * 1024 * 1024)) == "20480m"


def test_default_heap_without_meminfo_falls_back_to_the_cap(tmp_path):
    assert default_driver_memory(str(tmp_path / "missing")) == "20480m"
