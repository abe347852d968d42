"""Self-tests for the host-speed scaling: python3 -m pytest perfbench -q"""

import pytest

import hostspeed
import run


def test_scale_is_one_at_reference_speed_and_inverse_to_probe_time():
    assert hostspeed.scale(hostspeed.REFERENCE_S) == pytest.approx(1.0)
    assert hostspeed.scale(2 * hostspeed.REFERENCE_S) == pytest.approx(0.5)
    with pytest.raises(ValueError):
        hostspeed.scale(0.0)


def test_factors_use_the_samples_on_both_sides_of_each_gap():
    ref = hostspeed.REFERENCE_S
    between = [[ref, ref, ref], [ref, 2 * ref, 2 * ref], [2 * ref, 2 * ref, 2 * ref]]
    # gap 0: median of (1, 1, 1, 1, 2, 2) × ref = 1 × ref; gap 1: 2 × ref
    assert hostspeed.factors(between) == pytest.approx([1.0, 0.5])


def test_end_to_end_takes_scaled_op_times_and_scales_no_count():
    res = {"warm_op_s": [1.0, 2.0, 3.0], "warm_wall_s": 6.5, "setup_s": 10.0,
           "cold_pass_s": 5.0, "attempted": 5, "failed": 0, "mismatched": 0,
           "peak_rss_mb": 100.0, "warm_op_ref_s": [1.0, 4.0, 3.0],
           "probe_s": [2 * hostspeed.REFERENCE_S] * 3}
    raw, at_ref = run.end_to_end(dict(res), scaled=False), run.end_to_end(dict(res))
    assert raw["op_s_p50"] == 2.0 and raw["cold_pass_s"] == 5.0
    assert at_ref["op_s_p50"] == pytest.approx(3.0)
    assert at_ref["op_s_tail"] == pytest.approx(4.0)
    assert at_ref["cold_pass_s"] == pytest.approx(2.5)
    assert at_ref["setup_s"] == pytest.approx(5.0)
    # the window's wall time (6.5 s) scales like the sum of its ops, 8/6
    assert at_ref["ops_per_min"] == pytest.approx(60.0 * 3 / (6.5 * 8.0 / 6.0))
    assert at_ref["error_rate"] == raw["error_rate"] == 0.0
    assert at_ref["peak_rss_mb"] == raw["peak_rss_mb"]
