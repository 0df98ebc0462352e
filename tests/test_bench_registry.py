"""bench.py times registry builders, not copies of them: every name in its
fast list must be a queries() key whose builder takes ``use_md5`` (md5 by
default, the spelling the oracle replays), so a rename cannot silently
drop a bench row."""

from __future__ import annotations

import inspect


def test_bench_fast_queries_are_registry_builders_with_use_md5():
    import __spark_entry__ as entry
    import bench

    qs = entry.queries()
    assert bench.FAST_QUERIES
    for name in bench.FAST_QUERIES:
        assert name in qs, name
        param = inspect.signature(qs[name]).parameters.get("use_md5")
        assert param is not None and param.default is True, name
