"""Session-factory tests that need no SparkSession."""

from lottery_end_to_end_etl_data_pipeline_spark.session import _cgroup_memory_limit


def _write(root, rel, text):
    path = root / rel
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(text)


def test_cgroup_limit_takes_tightest_ancestor_v2(tmp_path):
    """The cap on a parent cgroup binds even when the leaf says max."""
    _write(tmp_path, "sys/fs/cgroup/memory.max", "max\n")
    _write(tmp_path, "sys/fs/cgroup/jobs/memory.max", "2147483648\n")
    _write(tmp_path, "sys/fs/cgroup/jobs/task7/memory.max", "max\n")
    _write(tmp_path, "sys/fs/cgroup/other/memory.max", "1024\n")
    assert _cgroup_memory_limit("0::/jobs/task7\n", str(tmp_path)) == 2147483648


def test_cgroup_limit_v1_memory_controller(tmp_path):
    """A v1 hierarchy: only the line naming the memory controller
    counts, and the no-limit sentinel loses to a real cap."""
    _write(tmp_path, "sys/fs/cgroup/memory/memory.limit_in_bytes", "9223372036854771712\n")
    _write(tmp_path, "sys/fs/cgroup/memory/docker/abc/memory.limit_in_bytes", "4294967296\n")
    proc = "12:cpu,cpuacct:/docker/abc\n4:memory:/docker/abc\n"
    assert _cgroup_memory_limit(proc, str(tmp_path)) == 4294967296


def test_cgroup_limit_none_without_limits(tmp_path):
    _write(tmp_path, "sys/fs/cgroup/memory.max", "max\n")
    assert _cgroup_memory_limit("0::/\n", str(tmp_path)) is None
    assert _cgroup_memory_limit("", str(tmp_path)) is None
    assert _cgroup_memory_limit("0::/missing/leaf\n", str(tmp_path / "nowhere")) is None
