"""The window planner (plans.pipeline.plan_windows) on its own: pure
integers in, windows out, no Spark session."""

from hypothesis import given, settings
from hypothesis import strategies as st

from scylla_cdc_rust_spark.plans.pipeline import plan_windows

# ---------- characterization: the window sequences of the apply paths ----------


def test_fresh_run_steps_fixed_windows_to_the_generation_end():
    # footer bounds (1000, 9999): the generation ends at 10_000
    assert plan_windows(1_000, 10_000, [], 3_000) == [
        (1_000, 4_000, False),
        (4_000, 7_000, False),
        (7_000, 10_000, False),
    ]
    assert plan_windows(1_000, 10_001, [], 3_000) == [
        (1_000, 4_000, False),
        (4_000, 7_000, False),
        (7_000, 10_000, False),
        (10_000, 10_001, False),
    ]


def test_one_window_over_the_whole_generation_is_bulk():
    assert plan_windows(1_000, 10_000, [], 10**12) == [(1_000, 10_000, True)]
    # a tailing reader's end is its safe end, not the generation's
    assert plan_windows(1_000, 10_000, [], 10**12, tailing=True) == [
        (1_000, 10_000, False)
    ]


def test_skewed_resume_coalesces_the_catch_up_span():
    # streams saved at 2500 and 6200: resume at the min floor, one
    # window up to the max floor, then fixed windows
    assert plan_windows(1_000, 10_000, [2_500, 6_200], 3_000) == [
        (2_500, 6_200, False),
        (6_200, 9_200, False),
        (9_200, 10_000, False),
    ]
    # a tailing reader stops at its safe end, inside the catch-up span
    assert plan_windows(2_500, 5_000, [2_500, 6_200], 3_000, tailing=True) == [
        (2_500, 5_000, False)
    ]
    # and picks the span's rest up on its next call
    assert plan_windows(5_000, 8_000, [2_500, 6_200], 3_000, tailing=True) == [
        (5_000, 6_200, False),
        (6_200, 8_000, False),
    ]


def test_stop_at_clamps_the_last_window():
    assert plan_windows(1_000, 10_000, [], 3_000, end_timestamp_ms=5_500) == [
        (1_000, 4_000, False),
        (4_000, 5_500, False),
    ]
    # a catch-up span reaching past the stop ends at it
    assert plan_windows(1_000, 10_000, [2_000, 8_000], 3_000,
                        end_timestamp_ms=5_500) == [(2_000, 5_500, True)]


def test_start_timestamp_raises_the_begin():
    assert plan_windows(1_000, 10_000, [], 3_000, start_timestamp_ms=5_000) == [
        (5_000, 8_000, False),
        (8_000, 10_000, False),
    ]
    # a start past the stop or the generation's end plans nothing
    assert plan_windows(1_000, 10_000, [], 3_000, 9_000, 8_000) == []
    assert plan_windows(1_000, 10_000, [], 3_000, 10_000) == []
    # a fully applied generation plans nothing
    assert plan_windows(1_000, 10_000, [10_000, 10_000], 3_000) == []


# ---------- properties ----------

times = st.integers(min_value=0, max_value=10_000)


@settings(max_examples=400, deadline=None)
@given(
    lo=times,
    span=st.integers(min_value=-100, max_value=10_000),
    floors=st.lists(times, max_size=5),
    window=st.integers(min_value=1, max_value=5_000),
    start=times,
    stop=st.one_of(st.none(), times),
    tailing=st.booleans(),
)
def test_plan_properties(lo, span, floors, window, start, stop, tailing):
    hi = lo + span
    windows = plan_windows(lo, hi, floors, window, start, stop, tailing=tailing)
    begin = max(start, lo, min(floors, default=lo))
    end = hi if stop is None else min(hi, stop)
    if begin >= end:
        assert windows == []
        return
    # contiguous and together exactly [begin, end)
    assert windows[0][0] == begin and windows[-1][1] == end
    for (_, e, _), (b, _, _) in zip(windows, windows[1:]):
        assert e == b
    assert all(b < e for b, e, _ in windows)
    # only the catch-up window [begin, max floor) is wider than a window
    for i, (b, e, _) in enumerate(windows):
        if e - b > window:
            assert i == 0 and floors and e == min(max(floors), end)
    # bulk only for a single window over the whole generation
    bulk = not tailing and len(windows) == 1
    assert [w[2] for w in windows] == [bulk] * len(windows)
