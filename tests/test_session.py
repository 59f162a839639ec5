import pytest

from cardinality_estimation_evaluation_framework_spark.session import default_driver_memory


@pytest.mark.parametrize("mem_total_kib, expect", [
    (16_479_424, "7g"),        # 15.7 GiB box -> half, rounded down
    (64 * 2**20, "32g"),
    (3 * 2**20, "1g"),         # 1.5 GiB rounds down to 1g
    (1_000_000, "1g"),         # under 2 GiB: the 1g floor
])
def test_default_driver_memory_is_half_of_mem_total(tmp_path, mem_total_kib, expect):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(f"MemTotal:       {mem_total_kib} kB\nMemFree:        1024 kB\n")
    assert default_driver_memory(str(meminfo)) == expect


def test_default_driver_memory_without_meminfo(tmp_path):
    assert default_driver_memory(str(tmp_path / "missing")) == "1g"
    (tmp_path / "empty").write_text("")
    assert default_driver_memory(str(tmp_path / "empty")) == "1g"
