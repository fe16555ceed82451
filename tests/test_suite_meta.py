"""Suite-registry invariants — structural guards that the driver
contract stays whole as queries are added."""


from sparkswift import suite


def _registry():
    suite.queries()  # force sub-suite imports + window validation
    return suite._REGISTRY


def test_every_registered_query_has_an_oracle():
    """VERDICT r12 #1: since the re-point, EVERY registry entry must
    carry a SQL oracle (the driver's hard channel can then never
    sample an unverifiable row). Raw rows-only outputs live in
    suite.raw_queries() instead — each must correspond to a
    re-pointed registry name whose frame certifies it."""
    reg = _registry()
    rows_only = {n for n, (_f, o) in reg.items() if o is None}
    assert not rows_only, f"rows-only registry entries: {sorted(rows_only)}"
    raw = suite.raw_queries()
    assert set(raw) == set(suite._REPOINT)
    for n in raw:
        assert n in reg and reg[n][1] is not None, n
        # the registry fn is the former gate, not the raw output
        assert reg[n][0] is not raw[n], n


def test_gate_oracle_placeholders_all_resolved():
    """suite_gates wraps other queries' oracles at import time — an
    unresolved __X__ placeholder would reach DuckDB as a syntax
    error."""
    reg = _registry()
    bad = {
        n: o[:120]
        for n, (_f, o) in reg.items()
        if o is not None and "__" in o and "_ORACLE__" in o
    }
    assert not bad, bad


def test_window_is_exactly_fifty_registered_names():
    names = list(suite.queries())
    assert len(names) >= 50
    assert len(set(names[:50])) == 50
    assert set(suite._WINDOW) == set(names[:50])


def test_every_env_knob_is_documented():
    """Every ``SPARK_GRAFT_*`` name under ``sparkswift/`` appears in
    the configuration table of docs/API.md, and the table lists no
    name the library no longer reads."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent
    knob = re.compile(r"SPARK_GRAFT_[A-Z_]*[A-Z]")
    used = {
        m
        for path in (root / "sparkswift").rglob("*.py")
        for m in knob.findall(path.read_text())
    }
    api = (root / "docs" / "API.md").read_text()
    table = api.split("## Configuration (environment)", 1)[1].split("\n## ", 1)[0]
    documented = {
        m for line in table.splitlines() if line.startswith("| `") for m in knob.findall(line)
    }
    assert used == documented, (sorted(used - documented), sorted(documented - used))
