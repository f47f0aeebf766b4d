"""Determinism of the seeded sensor-observation generator.

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sensors import ANOMALY_RATE, ANOMALY_SHIFT, NOISE, SensorField  # noqa: E402

ANCHOR = 1_700_000_000_000
SPAN = 600_000


def _rows(obs, anchor):
    return [(o.ts - anchor, o.obs, o.sensor, o.prop, o.value, o.anomaly) for o in obs]


def test_same_seed_and_anchor_give_same_rows():
    a = SensorField(7).history(ANCHOR, SPAN, 5.0)
    b = SensorField(7).history(ANCHOR, SPAN, 5.0)
    assert a == b
    assert SensorField(7).live(ANCHOR, SPAN, 5.0) == SensorField(7).live(ANCHOR, SPAN, 5.0)


def test_other_seed_gives_other_rows():
    assert SensorField(7).history(ANCHOR, SPAN, 5.0) != SensorField(8).history(ANCHOR, SPAN, 5.0)


def test_timestamps_are_offsets_from_the_anchor():
    later = ANCHOR + 123_456
    assert _rows(SensorField(3).history(ANCHOR, SPAN, 5.0), ANCHOR) == _rows(
        SensorField(3).history(later, SPAN, 5.0), later
    )
    assert _rows(SensorField(3).live(ANCHOR, SPAN, 5.0), ANCHOR) == _rows(
        SensorField(3).live(later, SPAN, 5.0), later
    )


def test_history_ends_before_the_anchor_and_live_starts_at_it():
    hist = SensorField(1).history(ANCHOR, SPAN, 5.0)
    live = SensorField(1).live(ANCHOR, SPAN, 5.0)
    assert all(ANCHOR - SPAN <= o.ts < ANCHOR for o in hist)
    assert all(ANCHOR <= o.ts < ANCHOR + SPAN for o in live)
    assert [o.ts for o in hist] == sorted(o.ts for o in hist)
    assert [o.ts for o in live] == sorted(o.ts for o in live)
    assert len({o.obs for o in hist} | {o.obs for o in live}) == len(hist) + len(live)


def test_rates_are_skewed_and_anomalies_injected_at_the_known_rate():
    field = SensorField(2)
    obs = field.history(ANCHOR, 3_600_000, 10.0)
    per_sensor = {s: 0 for s in field.sensors}
    for o in obs:
        per_sensor[o.sensor] += 1
    counts = [per_sensor[s] for s in field.sensors]
    assert counts[0] > 5 * counts[-1]  # Zipf weights: first sensor busiest
    share = sum(o.anomaly for o in obs) / len(obs)
    assert abs(share - ANOMALY_RATE) < 0.005
    for o in obs:
        dev = abs(float(o.value) - field.means[o.sensor])
        assert dev > ANOMALY_SHIFT - 0.01 if o.anomaly else dev <= NOISE + 0.01
