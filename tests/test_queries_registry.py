"""Registry-wide smoke at sf0.001: every declared query runs and returns a
stable schema; bench-tagged queries return rows."""

from __future__ import annotations

import pytest

from weather_api_automate_etl_spark.queries import REGISTRY, _load_extensions

_load_extensions()
SF = "/root/testdata/sf0.001"


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_runs(spark, name):
    spec = REGISTRY[name]
    df = spec.fn(spark, SF)
    assert df.columns, f"{name} produced no columns"
    if spec.oracle is not None:
        complex_cols = [
            f.name
            for f in df.schema.fields
            if f.dataType.typeName() in ("array", "map", "struct")
        ]
        assert not complex_cols, (
            f"{name}: complex-typed columns {complex_cols} break the driver's "
            "pandas canonicalization — serialize to strings in both twins"
        )
    n = df.count()
    # violation-style and threshold queries may legitimately be empty;
    # everything else must produce rows at sf0.001. The triangle/LPA pair
    # queries inherit q_minhash_pairs' emptiness (no candidate pairs on a
    # tiny/regenerated fixture is a legitimate outcome, not a bug)
    may_be_empty = {
        "q_minhash_pairs", "q_ngram_jaccard", "q_neardup_cosine",
        "q_triangle_count", "q_label_propagation", "q_kcore",
    }
    if name not in may_be_empty:
        assert n > 0, f"{name} returned 0 rows"


def test_oracle_keys_subset():
    from weather_api_automate_etl_spark.queries import oracle_sql, queries

    q, o = queries(), oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 34


def test_priority_order_names_are_registered():
    """The driver-facing order holds every registered query exactly once,
    and the evidence files name no query the registry has lost except
    q_compression_fixed, displaced in round 10 (PARITY.md). A renamed or
    dropped query must not leave green rows behind unnoticed."""
    from weather_api_automate_etl_spark.queries import queries

    names = list(queries())
    assert sorted(names) == sorted(REGISTRY)
    assert set(_last_verified_round()) - set(REGISTRY) == {"q_compression_fixed"}


def _driver_verified() -> set[str]:
    """Union of green rows across every recorded CORRECTNESS_r*.json.

    The evidence files are tracked in git, so their absence is a broken
    checkout, not a skippable condition (round-3 advice finding)."""
    import json
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    files = sorted(root.glob("CORRECTNESS_r*.json"))
    assert len(files) >= 3, (
        f"expected the tracked CORRECTNESS_r01..r03 evidence files, found {files}"
    )
    verified: set[str] = set()
    for p in files:
        rows = json.loads(p.read_text())
        verified |= {
            name for name, row in rows.items()
            if row.get("rows_match") and row.get("schema_match")
        }
    return verified


def _last_verified_round() -> dict[str, int]:
    """Map each query to the LAST round whose CORRECTNESS file recorded a
    green row for it — the staleness metric the rotation plan runs on."""
    import json
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    last: dict[str, int] = {}
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        rnd = int(p.stem.split("_r")[1])
        for name, row in json.loads(p.read_text()).items():
            if row.get("rows_match") and row.get("schema_match"):
                last[name] = max(last.get(name, 0), rnd)
    return last


def test_priority_prefix_covers_every_family():
    """The driver hash-checks the first 50 entries of queries() each round.
    The order is computed from the committed CORRECTNESS files: stalest
    last-green round first, ties by registration order. Checked here
    against this module's own evidence readers: the head-50 is the next
    window, every family re-verifies within the 7-round freshness bound,
    and nothing outside the head lacks a green driver row."""
    from weather_api_automate_etl_spark.queries import oracle_sql, queries

    names = list(queries())
    assert len(names) == len(REGISTRY) and set(names) == set(REGISTRY), (
        "the order must be a permutation of the registry"
    )
    verified = _driver_verified()
    unverified = set(REGISTRY) - verified
    assert not unverified, (
        "round 11 drove the never-driver-sampled set to zero; it must "
        f"stay zero: {unverified}"
    )
    # every registered query carries a DuckDB oracle (no no_oracle rows
    # since the round-9 portable-HLL / zlib-lookup upgrades).
    assert set(oracle_sql()) == set(REGISTRY), (
        "every registered query must carry a DuckDB oracle: "
        f"missing {set(REGISTRY) - set(oracle_sql())}"
    )
    last = _last_verified_round()
    rank = {name: last.get(name, 0) for name in REGISTRY}
    head, tail = names[:50], names[50:]
    assert max(rank[n] for n in head) <= min(rank[n] for n in tail), (
        "the 50-entry window must hold the stalest green rows"
    )
    position = {name: i for i, name in enumerate(REGISTRY)}
    keys = [(rank[n], position[n]) for n in names]
    assert keys == sorted(keys), (
        "the order must be stalest-first with ties in registration order"
    )
    # Freshness bound. With 327 queries and a 50-slot window a full cycle
    # is ceil(327/50) = 7 rounds. A row last verified in round r exceeds
    # 7 rounds at the close of round r+8, so with evidence through round
    # N every registered row with r <= N-6 must sit in the current or
    # next window (it re-verifies within two rounds, before the bound
    # trips). Displaced names are not registered and can never re-verify.
    n_max = max(last.values())
    overdue = {n for n in REGISTRY if rank[n] <= n_max - 6}
    assert overdue <= set(names[:100]), (
        f"rows about to exceed the 7-round freshness bound are unscheduled: "
        f"{overdue - set(names[:100])}"
    )
    # everything outside the window must already be driver-verified
    outside = set(tail) - verified
    assert not outside, (
        f"queries outside the window lack prior driver rows: {outside}"
    )


def _write_evidence(d, rnd: int, rows: dict[str, bool]) -> None:
    """One synthetic 50-row CORRECTNESS file: ``rows`` maps a name to
    whether its row is green; filler names pad the file to 50."""
    import json

    body = {
        name: {"rows_match": green, "schema_match": True}
        for name, green in rows.items()
    }
    for i in range(50 - len(body)):
        body[f"q_pad{i}"] = {"rows_match": True, "schema_match": True}
    (d / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(body))


def test_stalest_first_without_evidence_keeps_registration_order(tmp_path):
    from weather_api_automate_etl_spark.queries import stalest_first

    assert stalest_first(tmp_path, ["q_b", "q_a", "q_c"]) == ["q_b", "q_a", "q_c"]


def test_stalest_first_red_row_does_not_refresh(tmp_path):
    from weather_api_automate_etl_spark.queries import stalest_first

    _write_evidence(tmp_path, 1, {"q_a": True, "q_b": True})
    _write_evidence(tmp_path, 2, {"q_a": False, "q_b": True})
    # q_c was never sampled (round 0); q_a's last green row is round 1,
    # so it moves ahead of q_b (round 2) despite registering later
    assert stalest_first(tmp_path, ["q_b", "q_a", "q_c"]) == ["q_c", "q_a", "q_b"]


def test_stalest_first_malformed_evidence_raises(tmp_path):
    import json

    from weather_api_automate_etl_spark.queries import stalest_first

    rows = {f"q_{i}": {"rows_match": True, "schema_match": True} for i in range(49)}
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(rows))
    with pytest.raises(ValueError, match="malformed"):
        stalest_first(tmp_path, ["q_0"])
