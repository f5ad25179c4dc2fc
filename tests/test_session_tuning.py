"""Per-process state the kernels keep must stay bounded: the window
hash's power tables are sized to the caller's need and task-local."""

from __future__ import annotations


def test_pow_tables_sized_to_need():
    # r13: power tables are built to the caller's actual need (no 2^20
    # = 32 MB per-process floor) and are task-local in the kernel —
    # nothing module-global retains them.
    from picovdb_spark.operators import dedup as D

    t = D._build_pow_tables(16)
    assert len(t) == 4 and all(len(a) == 16 for a in t)
    assert int(t[0][0]) == 1
    assert int(t[0][1]) == D._POLY_B1
    # lane x inverse-lane telescopes back to 1 at every index
    for i in range(16):
        assert (int(t[0][i]) * int(t[2][i])) % (1 << 64) == 1
        assert (int(t[1][i]) * int(t[3][i])) % (1 << 64) == 1
    assert not hasattr(D, "_POLY_POW_TABLES")


def test_driver_heap_default_follows_host_memory(monkeypatch):
    """The driver heap defaults to half the host's memory, between 1g
    and 32g, so the JVM cannot outgrow a small host; the environment
    variable still wins."""
    import os

    from picovdb_spark import session

    page = 4096
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    for total_gib, heap in ((15, "7g"), (128, "32g"), (1, "1g")):
        pages = total_gib * 2**30 // page
        monkeypatch.setattr(
            os, "sysconf", lambda name, p=pages: page if name == "SC_PAGE_SIZE" else p
        )
        assert session._driver_memory() == heap
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session._driver_memory() == "3g"
