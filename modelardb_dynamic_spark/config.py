"""Engine configuration.

Mirrors the knobs of the reference configuration file
(/root/reference/modelardb.conf): error bound (percent), length bound for the
lossless fallback models, and sampling interval. The model cascade is fixed
at the reference default, PMC-Mean, Swing, Gorilla (modelardb.conf:50-52).

Model-type ids follow the reference convention that mtid 1 is always the
Uncompressed fallback (core/models/ModelTypeFactory.java:25-28) and the
cascade's models get ids 2.. in cascade order.
"""

from __future__ import annotations

from dataclasses import dataclass

MTID_UNCOMPRESSED = 1
MTID_PMC_MEAN = 2
MTID_SWING = 3
MTID_GORILLA = 4


@dataclass(frozen=True)
class EngineConfig:
    """Compression / rollup pipeline configuration.

    error_bound: relative error bound in percent (0 = lossless semantics).
    length_bound: max points per Gorilla/Uncompressed segment
        (modelardb.conf:62 default 50).
    sampling_interval_ms: the regular grid of the derived series
        (modelardb.conf:68 default 100 in the reference; our transcript
        series default to 60_000 = 1 minute buckets).
    """

    error_bound: float = 10.0
    length_bound: int = 50
    sampling_interval_ms: int = 60_000

    def __post_init__(self) -> None:
        if not (0.0 <= self.error_bound <= 100.0):
            raise ValueError("error_bound must be a percentage in [0, 100]")
        if self.length_bound < 1:
            raise ValueError("length_bound must be >= 1")
        if self.sampling_interval_ms < 1:
            raise ValueError("sampling_interval_ms must be >= 1")


LOSSLESS = EngineConfig(error_bound=0.0)
DEFAULT = EngineConfig()
