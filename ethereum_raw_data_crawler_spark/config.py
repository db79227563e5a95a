"""Crawl configuration shared by the Spark engine and the pure-Python oracle.

Mirrors the reference's config surface (reference:
internal/infrastructure/config/config.go:160-190 — batch_size,
concurrent_workers, rate_limit, max_retries, skip_duration,
polling_interval) transposed to batch-round semantics:

- ``batch_size``     <- crawler.batch_size (config.go:174)
- ``max_retries``    <- scheduler.max_retries (config.go:189);
                        failure counting in scheduler_service.go:324-357
- ``skip_rounds``    <- scheduler.skip_duration (config.go:190) expressed in
                        rounds instead of wall-clock (deterministic)
- ``priority_cap``   <- ours: outlink depth cap (reference keyspace is linear
                        so it has no depth; URLs need one)
- ``default_budget`` <- ethereum.rate_limit (config.go:164) recast as a
                        per-(host, round) fetch budget enforced at pop time
                        instead of sleep time (SURVEY.md §4.1)

All timestamps are logical and deterministic: round ``r`` starts at
``EPOCH + r * round_interval_s`` seconds; a row discovered in round ``r``
with within-round sequence ``i`` gets discovery_ts
``round_ts(r) + discovery_offset_s + i`` seconds. No wall-clock anywhere.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timezone

#: Logical epoch for round timestamps (UTC).
EPOCH = datetime(2025, 1, 1, tzinfo=timezone.utc)
EPOCH_UNIX = int(EPOCH.timestamp())

#: Most rows the engine collects to the driver in place of a Spark job: a
#: round's frontier delete keys and the keys of a seen-filter fold. Past
#: it, the work stays distributed.
DRIVER_COLLECT_MAX_ROWS = 200_000


@dataclass(frozen=True)
class CrawlConfig:
    batch_size: int = 100           # global pop size per round
    max_retries: int = 3            # failures before a skip window
    skip_rounds: int = 2            # rounds to skip after max_retries failures
    hard_fail_retries: int = 9      # retry_count at which a URL is failed forever
    rate_limit_skip_cap: int = 16   # cap on the quadratic rate-limit skip
                                    # (reference caps rate-limit backoff at 30 s,
                                    # ethereum_service.go:594-624)
    priority_cap: int = 3           # max priority (depth) admitted to frontier
    default_budget: int = 5         # per-(host, round) budget when host absent
    round_interval_s: int = 3600    # logical seconds between round starts
    discovery_offset_s: int = 1800  # offset of discovery_ts within a round
    max_rounds: int = 1000          # safety bound on the round loop

    def round_unix(self, r: int) -> int:
        """Unix seconds at which logical round ``r`` starts."""
        return EPOCH_UNIX + r * self.round_interval_s

    def discovery_unix(self, r: int, seq: int) -> int:
        """discovery_ts (unix s) for the seq-th URL discovered in round r.

        Seeds are "discovered" in round 0; fetch rounds start at 1.
        """
        return self.round_unix(r) + self.discovery_offset_s + seq
