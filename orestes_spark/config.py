"""Space (namespace) configuration.

Mirrors the reference's per-space config surface
(/root/reference/conf/orestes-config.json:11-15,
 /root/reference/lib/orestes-utils.js:49-53): each space has its own
``table_granularity_days`` controlling the time-bucket size. In the
Spark engine a bucket is a parquet partition value instead of a
Cassandra table / ES index, so granularity controls partition layout
(and therefore pruning + retention-delete granularity) rather than
table naming.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path

MS_IN_DAY = 86_400_000

_DURATION_UNITS_MS = {"ms": 1, "s": 1_000, "m": 60_000, "h": 3_600_000, "d": MS_IN_DAY}


def parse_duration_ms(value) -> int:
    """Milliseconds from an int/float (already ms) or an ES-style
    duration string — the syntax the reference uses for its hardcoded
    scroll keep-alive ('10m', elasticsearch/query.js:30): a number
    with an optional ms/s/m/h/d suffix. Bare numeric strings are ms.
    Raises ValueError on anything else — including NEGATIVE and
    non-finite values (a negative lease would make every remote lock
    read as instantly expired and the heartbeat busy-loop; 'inf'
    would escape as OverflowError): loud, not a silent default."""

    def _ms(x: float) -> int:
        if not (0 <= x < 2**53):  # finite, non-negative, sane
            raise ValueError(f"not a valid duration: {value!r} (negative/overflow)")
        return int(x)

    if isinstance(value, bool):
        raise ValueError(f"not a duration: {value!r}")
    if isinstance(value, (int, float)):
        return _ms(float(value))
    if isinstance(value, str):
        s = value.strip().lower()
        for suffix in ("ms", "s", "m", "h", "d"):  # 'ms' before 's'
            if s.endswith(suffix):
                num = s[: -len(suffix)].strip()
                if num:
                    try:
                        parsed = float(num)
                    except ValueError:
                        break
                    return _ms(parsed * _DURATION_UNITS_MS[suffix])
        try:
            parsed = float(s)
        except ValueError:
            pass
        else:
            return _ms(parsed)
    raise ValueError(f"not a duration: {value!r} (want ms number or '10m'-style string)")


@dataclass(frozen=True)
class SpaceConfig:
    """Per-space settings. ``granularity_days`` must be >= 1.

    ``rollup_step_ms`` (engine extension, no reference equivalent)
    enables the continuous aggregate: every write also appends
    per-(series, slot) partial stats at this step, served by
    ``engine.read_rollup`` without touching raw points.

    ``append_only`` (engine extension) declares the workload contract
    that no delivery ever re-writes an existing (series, time) key —
    true for most streaming metric pipelines, where every sample has a
    fresh timestamp. The engine then keeps the merge-free read plans
    regardless of delivery count (the upsert merge gate stays off),
    trading the Cassandra-parity overwrite semantics for zero
    merge-on-read cost. Leave False when clients may re-send points."""

    granularity_days: int = 1
    rollup_step_ms: int | None = None
    append_only: bool = False
    # (bin_width, nbins): adds fixed-width value-histogram partials to
    # the continuous rollup, so QUANTILES become servable from
    # pre-aggregated state (engine.read_rollup_quantile) — the
    # statistic family the moment partials (sum/sum_sq) cannot
    # express. Requires rollup_step_ms. Values clamp into
    # [0, bin_width·nbins); counts are associative partials, so every
    # merge order (appends, replays, compaction) is exact.
    rollup_hist: tuple[float, int] | None = None

    def __post_init__(self) -> None:
        if self.granularity_days < 1:
            raise ValueError("granularity_days must be >= 1")
        if self.rollup_step_ms is not None and self.rollup_step_ms < 1:
            raise ValueError("rollup_step_ms must be >= 1 when set")
        if self.rollup_hist is not None:
            w, n = self.rollup_hist
            if self.rollup_step_ms is None:
                raise ValueError("rollup_hist requires rollup_step_ms")
            if w <= 0 or n < 2:
                raise ValueError("rollup_hist needs bin_width > 0 and nbins >= 2")


@dataclass
class EngineConfig:
    """Engine-wide settings.

    ``warehouse`` is the root path; each space lives at
    ``<warehouse>/<space>/{points,series}``. Unknown spaces fall back to
    ``default_space_config`` (reference default: granularity 1 day).
    """

    warehouse: str
    spaces: dict[str, SpaceConfig] = field(default_factory=dict)
    default_space_config: SpaceConfig = field(default_factory=SpaceConfig)
    # Writer-lock lease (engine extension, no reference counterpart):
    # a lock held by a process on ANOTHER host (NFS-shared warehouse)
    # cannot be pid-probed, so it reads as dead once its mtime
    # heartbeat is older than this lease — a crashed remote writer
    # stops wedging the space after one lease instead of forever.
    # Same-host holders are still pid-probed (authoritative,
    # mtime-independent). Must comfortably exceed the longest
    # stop-the-world pause a live writer can suffer between
    # heartbeats (beats run every lease/3); see engine._writer_lock
    # for the fencing check that makes an expired-then-stolen lease
    # loud rather than silent.
    writer_lease_ms: int = 600_000

    def __post_init__(self) -> None:
        # parse_duration_ms accepts 0 (a valid *duration*), but a zero
        # lease is never a valid *config*: every foreign-host lock
        # would read as instantly expired (live remote writers get
        # stolen) and the heartbeat loop would spin at its 50 ms floor
        # — exactly the failure mode the negative-duration rejection
        # exists to prevent. Loud at construction, not at the first
        # stolen lock.
        if self.writer_lease_ms <= 0:
            raise ValueError("writer_lease_ms must be > 0")

    def space(self, name: str) -> SpaceConfig:
        return self.spaces.get(name, self.default_space_config)


def load_space_configs(path: str | Path) -> dict[str, SpaceConfig]:
    """Parse a reference-format config file's ``spaces`` block
    (/root/reference/conf/orestes-config.json:11-15): each space maps
    ``table_granularity_days`` → SpaceConfig. Backend blocks
    (``cassandra``, ``elasticsearch``, ``port``) have no Spark
    equivalent — storage is the engine warehouse — and are ignored."""
    return _space_configs_from(json.loads(Path(path).read_text()))


def _space_configs_from(conf: dict) -> dict[str, SpaceConfig]:
    spaces = conf.get("spaces", {})
    if not isinstance(spaces, dict):
        raise ValueError("config 'spaces' must be an object")
    return {
        name: SpaceConfig(
            granularity_days=int(sc.get("table_granularity_days", 1)),
            rollup_step_ms=(
                int(sc["rollup_step_ms"]) if sc.get("rollup_step_ms") is not None else None
            ),
            append_only=bool(sc.get("append_only", False)),
            rollup_hist=(
                (float(sc["rollup_hist"][0]), int(sc["rollup_hist"][1]))
                if sc.get("rollup_hist") is not None
                else None
            ),
        )
        for name, sc in spaces.items()
    }


def engine_config_from_json(path: str | Path, warehouse: str) -> EngineConfig:
    """EngineConfig driven from a reference-format JSON config file:
    the ``spaces`` block plus ``writer_lease_ms``. Every other key —
    backend blocks and the reference's ES/Cassandra client-pool knobs
    (``metadata_fetch_size``, ``max_concurrent_count_requests``,
    ``read_request_concurrency``, ...) — has no Spark counterpart and
    is ignored, so reference configs load unchanged."""
    conf = json.loads(Path(path).read_text())
    return EngineConfig(
        warehouse=warehouse,
        spaces=_space_configs_from(conf),
        writer_lease_ms=parse_duration_ms(conf.get("writer_lease_ms", 600_000)),
    )
