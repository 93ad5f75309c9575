"""Benchmark-harness contracts: the anti-caching rebuild set that
bench.py and the tools/ timers share must name real registry entries."""


def test_rebuild_each_rep_names_are_registry_queries():
    """Every name in ``bench.REBUILD_EACH_REP`` is a ``queries()`` key —
    a renamed or removed query would otherwise silently fall back to
    plan-object reuse across reps (result caching)."""
    import __spark_entry__ as em
    from bench import REBUILD_EACH_REP

    assert REBUILD_EACH_REP
    assert sorted(REBUILD_EACH_REP - set(em.queries())) == []
