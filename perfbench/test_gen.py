"""Self-tests for the seeded input generator: python3 -m pytest perfbench -q"""

import json

import gen


def _table_bytes(path):
    return {p.name: p.read_bytes() for p in sorted(path.iterdir())}


def test_same_seed_gives_byte_identical_payloads():
    cities = gen.cities(7)
    assert cities == gen.cities(7)
    for day in (0, 1, 39):
        assert gen.day_payloads(7, cities, day) == gen.day_payloads(7, cities, day)


def test_other_seed_or_day_changes_payloads():
    cities = gen.cities(7)
    assert gen.cities(8) != cities
    assert gen.day_payloads(8, cities, 0) != gen.day_payloads(7, cities, 0)
    assert gen.day_payloads(7, cities, 1) != gen.day_payloads(7, cities, 0)


def test_payloads_have_fixed_error_share_and_weatherstack_shape():
    cities = gen.cities(3)
    assert len(cities) == 50 and len({c for c, _ in cities}) == 50
    for day in range(5):
        bodies = [json.loads(b) for b in gen.day_payloads(3, cities, day).values()]
        errors = [b for b in bodies if "error" in b]
        assert len(errors) == round(gen.ERROR_SHARE * len(cities))
        for b in bodies:
            if "error" not in b:
                assert set(b) == {"location", "current"}
                assert isinstance(b["current"]["weather_descriptions"], list)


def test_expected_observations_drop_errors_and_out_of_range():
    payloads = {
        "A": json.dumps({"error": {"code": 615}}),
        "B": json.dumps({"location": {"name": " bee ", "country": "X"},
                         "current": {"temperature": 61}}),
        "C": json.dumps({"location": {"name": "Cee", "country": "X"},
                         "current": {"temperature": -50}}),
        "D": json.dumps({"location": {"name": "DEE", "country": "X"},
                         "current": {"temperature": 11}}),
    }
    assert gen.expected_observations(payloads) == {"CEE": "Freezing", "DEE": "Mild"}


def test_temperature_category_bounds_are_inclusive():
    cats = [gen.temperature_category(t) for t in (-1, 0, 10, 11, 20, 21, 30, 31)]
    assert cats == ["Freezing", "Cold", "Cold", "Mild", "Mild", "Warm", "Warm", "Hot"]


def test_tables_are_byte_identical_per_seed_and_differ_across_seeds(tmp_path):
    gen.write_tables(str(tmp_path / "a"), 5)
    gen.write_tables(str(tmp_path / "b"), 5)
    gen.write_tables(str(tmp_path / "c"), 6)
    a, b, c = (_table_bytes(tmp_path / d) for d in "abc")
    assert len(a) == 10
    assert a == b
    # region and nation are fixed reference tables; every other table moves
    assert {k for k in a if a[k] != c[k]} == set(a) - {"region.parquet", "nation.parquet"}
