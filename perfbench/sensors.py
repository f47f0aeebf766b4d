"""Seeded SOSA-style sensor-observation generator shared by the workloads.

Every observation is three quads on one observation subject::

    <obs> sosa:madeBySensor     <sensor>
    <obs> sosa:observedProperty <property>
    <obs> sosa:hasSimpleResult  "value"

Per-sensor rates are skewed (Zipf weights), each sensor reads around its
own mean, and a known share of readings are injected anomalies far from
that mean.  Time is epoch ms, written as an offset from an anchor: the
history ends just before the anchor and the live continuation starts at
it, so a seed fixes every row up to that shift.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

SOSA = "http://www.w3.org/ns/sosa/"
EX = "http://example.org/janus/"
MADE_BY = SOSA + "madeBySensor"
OBSERVED = SOSA + "observedProperty"
RESULT = SOSA + "hasSimpleResult"
PROPERTIES = (EX + "temperature", EX + "humidity")

N_SENSORS = 24
SKEW = 1.1  # Zipf exponent of the per-sensor rates
ANOMALY_RATE = 0.02  # share of readings that are injected anomalies
ANOMALY_SHIFT = 40.0  # an anomaly reads this far from its sensor's mean
NOISE = 3.0  # normal readings stay within +-NOISE of the mean


@dataclass(frozen=True)
class Obs:
    ts: int  # epoch ms = creation time
    obs: str  # observation IRI
    sensor: str
    prop: str
    value: str  # lexical form, two decimals
    anomaly: bool

    def quads(self) -> list[tuple[int, str, str, str]]:
        return [
            (self.ts, self.obs, MADE_BY, self.sensor),
            (self.ts, self.obs, OBSERVED, self.prop),
            (self.ts, self.obs, RESULT, self.value),
        ]

    def nquads(self) -> str:
        s = f"{self.ts} <{self.obs}> "
        return (
            f"{s}<{MADE_BY}> <{self.sensor}> .\n"
            f"{s}<{OBSERVED}> <{self.prop}> .\n"
            f'{s}<{RESULT}> "{self.value}" .\n'
        )


class SensorField:
    """A fixed population of sensors drawn from ``seed``."""

    def __init__(self, seed: int):
        rng = random.Random(f"field:{seed}")
        self.seed = seed
        self.sensors = [f"{EX}sensor/s{i:03d}" for i in range(N_SENSORS)]
        weights = [1.0 / (i + 1) ** SKEW for i in range(N_SENSORS)]
        total = sum(weights)
        self.weights = [w / total for w in weights]
        self.means = {s: round(rng.uniform(10.0, 30.0), 2) for s in self.sensors}
        self.props = {s: PROPERTIES[i % len(PROPERTIES)] for i, s in enumerate(self.sensors)}

    def _draw(self, rng: random.Random, ts: int, seq: str) -> Obs:
        sensor = rng.choices(self.sensors, self.weights)[0]
        anomaly = rng.random() < ANOMALY_RATE
        if anomaly:
            v = self.means[sensor] + rng.choice((-1.0, 1.0)) * ANOMALY_SHIFT
        else:
            v = self.means[sensor] + rng.uniform(-NOISE, NOISE)
        name = sensor.rsplit("/", 1)[-1]
        return Obs(ts, f"{EX}obs/{name}/{seq}", sensor, self.props[sensor], f"{v:.2f}", anomaly)

    def history(self, anchor_ms: int, span_ms: int, rate_per_s: float) -> list[Obs]:
        """Observations with ts in [anchor - span, anchor), in ts order."""
        rng = random.Random(f"history:{self.seed}")
        n = int(span_ms / 1000 * rate_per_s)
        offsets = sorted(rng.randrange(-span_ms, 0) for _ in range(n))
        return [self._draw(rng, anchor_ms + off, f"h{i}") for i, off in enumerate(offsets)]

    def live(self, anchor_ms: int, duration_ms: int, rate_per_s: float) -> list[Obs]:
        """The live continuation: ts in [anchor, anchor + duration), at a
        fixed mean rate with exponential gaps, in ts order."""
        rng = random.Random(f"live:{self.seed}")
        out, t, i = [], 0.0, 0
        while True:
            t += rng.expovariate(rate_per_s / 1000.0)
            if t >= duration_ms:
                return out
            out.append(self._draw(rng, anchor_ms + int(t), f"l{i}"))
            i += 1
