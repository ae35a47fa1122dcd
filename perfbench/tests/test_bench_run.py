import pytest

import run


def _passes(walls, failed=()):
    return [{"i": i, "traced": i > 0 and i % 2 == 0, "wall_s": w, "cpu_s": w,
             "units": 100, "peak_rss_mb": 1.0,
             "failures": ["boom"] if i in failed else []}
            for i, w in enumerate(walls)]


def test_settled_window_is_fixed_by_the_pass_count_not_the_run_length():
    walls = [4.0, 3.0, 2.0, 2.0, 1.0, 1.0]
    assert [p["i"] for p in run._settled(_passes(walls), 4)] == [2, 3]
    # more passes in a faster run do not move the window
    assert [p["i"] for p in run._settled(_passes(walls + [1.0] * 6), 4)] == [2, 3]


def test_settled_window_skips_failed_passes_and_falls_back_to_any_ok():
    walls = [4.0, 3.0, 2.0, 2.0]
    assert [p["i"] for p in run._settled(_passes(walls, failed={2}), 4)] == [3]
    assert [p["i"] for p in run._settled(_passes(walls, failed={2, 3}), 4)] == [0, 1]


def test_tracing_overhead_cancels_a_linear_speed_up():
    # untraced passes speed up by 1 s a pass; traced ones cost 0.5 s more;
    # pass 0 is off the line and is not part of any triple
    walls = [20.0, 9.0, 8.5, 7.0, 6.5, 5.0]
    assert run.tracing_overhead(_passes(walls)) == pytest.approx(0.5)


def test_tracing_overhead_ignores_triples_with_a_failed_pass():
    walls = [20.0, 9.0, 8.5, 7.0, 99.0, 5.0]
    assert run.tracing_overhead(_passes(walls, failed={4})) == pytest.approx(0.5)
