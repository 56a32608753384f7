from __future__ import annotations

from exceldatatransform_py_spark.session import driver_memory


def test_default_driver_heap_fits_the_machine():
    """The default driver heap is 48g only where half the memory
    covers it; smaller machines (or cgroups) get half their total,
    never below 512m, and an unknown total keeps 48g."""
    gib = 1024
    assert driver_memory(15 * gib) == f"{15 * gib // 2}m"
    assert driver_memory(2 * gib) == "1024m"
    assert driver_memory(512) == "512m"
    assert driver_memory(256 * gib) == f"{48 * gib}m"
    assert driver_memory(None) == f"{48 * gib}m"


def test_memory_total_reads_the_process_cgroup_and_its_ancestors():
    """The total is the smallest of MemTotal and every limit on the
    process's own cgroup path, for cgroup v2 and v1 alike."""
    import io
    from unittest import mock

    from exceldatatransform_py_spark import session

    def total(files):
        def fake_open(path, *a, **k):
            if path not in files:
                raise FileNotFoundError(path)
            return io.StringIO(files[path])

        with mock.patch.object(session, "open", fake_open, create=True):
            return session._memory_total_mb()

    mem = {"/proc/meminfo": "MemTotal:       16384000 kB\n"}
    gib = 1024**3
    v2 = {**mem, "/proc/self/cgroup": "0::/jobs/a\n"}
    assert total(v2) == 16000
    assert total({**v2, "/sys/fs/cgroup/memory.max": "max\n",
                  "/sys/fs/cgroup/jobs/a/memory.max": f"{4 * gib}\n"}) == 4096
    assert total({**v2, "/sys/fs/cgroup/jobs/memory.max": f"{2 * gib}\n",
                  "/sys/fs/cgroup/jobs/a/memory.max": "max\n"}) == 2048
    v1 = {**mem, "/proc/self/cgroup": "5:cpu:/x\n4:memory:/job\n",
          "/sys/fs/cgroup/memory/job/memory.limit_in_bytes": f"{3 * gib}\n"}
    assert total(v1) == 3072
    assert total({}) is None
