"""Run configuration.

Mirrors the reference's 19-field config struct (reference src/config.rs:7-39)
with the same defaults (reference src/constants.rs:1-42) and the same
JSON-overlay behavior (reference src/config.rs:42-140: unknown keys ignored,
missing keys keep defaults, unreadable/unparseable file falls back to
defaults entirely).

Rebuild-only fields extend the reference for the distributed engine:
``scheduling`` ('dfs-parity' reproduces the sequential reference order,
'throughput' is the benchmarked BSP mode), ``max_depth``, ``per_host_quota``,
``seeds`` (the reference has a single starting_url) and the bloom sizing.
Every other engine choice has one value, kept as a module constant, not a
field: the frontier layout, the fetch join rule and its broadcast limit,
the compaction threshold, the salt fan-out and the Arrow batch size. A
config file that still sets a removed key loads with it ignored, like any
unknown key.
"""

from __future__ import annotations

import dataclasses
import json
from dataclasses import dataclass, field

# Defaults: reference src/constants.rs:1-42
STARTING_URL = "https://www.cnn.com"
PERMITTED_DOMAINS = ["www.cnn.com"]

USER_AGENT_CHROME = (
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
    "(KHTML, like Gecko) Chrome/58.0.3029.110 Safari/537.3"
)
USER_AGENT_FIREFOX = (
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64; rv:53.0) Gecko/20100101 Firefox/53.0"
)
USER_AGENT_SAFARI = (
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_12_6) AppleWebKit/603.3.8 "
    "(KHTML, like Gecko) Version/10.1.2 Safari/603.3.8"
)
USER_AGENT_IE = "Mozilla/5.0 (Windows NT 6.1; WOW64; Trident/7.0; AS; rv:11.0) like Gecko"
USER_AGENT_EDGE = (
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
    "(KHTML, like Gecko) Chrome/64.0.3282.140 Safari/537.36 Edge/17.17134"
)
USER_AGENT_OPERA = (
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
    "(KHTML, like Gecko) Chrome/77.0.3865.90 Safari/537.36 OPR/64.0.3417.54"
)
USER_AGENT_BRAVE = (
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
    "(KHTML, like Gecko) Chrome/78.0.3904.108 Safari/537.36 Brave/78.1.3.15"
)
USER_AGENTS = [
    USER_AGENT_CHROME,
    USER_AGENT_FIREFOX,
    USER_AGENT_SAFARI,
    USER_AGENT_IE,
    USER_AGENT_EDGE,
    USER_AGENT_OPERA,
    USER_AGENT_BRAVE,
]


@dataclass
class Config:
    # Site settings (reference src/config.rs:9-13)
    starting_url: str = STARTING_URL
    permitted_domains: list[str] = field(default_factory=lambda: list(PERMITTED_DOMAINS))
    blacklist_domains: list[str] = field(default_factory=list)
    free_crawl: bool = True

    # Crawler settings (reference src/config.rs:15-22)
    max_urls_to_visit: int = 500
    max_threads: int = 10
    rotate_user_agents: bool = True
    respect_robots: bool = True
    crawler_timeout: int = 3600
    # Parity-only: the fetch-simulation join has no per-request socket, so
    # there is nothing to time out; accepted so reference configs load.
    crawler_request_timeout: int = 60
    crawler_request_delay_ms: int = 1000

    # Data collection (reference src/config.rs:24-26)
    collect_html: bool = False
    collect_images: bool = True

    # Logging (reference src/config.rs:28-30)
    debug: bool = True
    live_logging: bool = True

    # Storage (reference src/config.rs:32-34). sqlite_enabled=false is the
    # reference's ephemeral mode (crawl runs, nothing persists, state dies
    # with the process): the Engine then roots its catalog in a temp dir
    # removed at interpreter exit and never touches the caller's workdir —
    # same observable semantics (no resume across processes). sqlite_path
    # is parity-only (the store is a snapshot catalog, not sqlite).
    sqlite_enabled: bool = True
    sqlite_path: str = "crawl_results.db"

    # Features (reference src/config.rs:36-38)
    user_agents: list[str] = field(default_factory=lambda: list(USER_AGENTS))
    log_relative_paths: bool = False

    # --- rebuild-only fields (distributed engine) ---
    seeds: list[str] = field(default_factory=list)  # defaults to [starting_url]
    max_depth: int | None = None  # None = unbounded (cap is the stop condition)
    scheduling: str = "dfs-parity"  # 'dfs-parity' | 'throughput'
    per_host_quota: int | None = 1  # URLs/host/round politeness; None/0 = off
    bloom_capacity: int = 1_000_000  # seen-set size the fpp holds up to
    bloom_fpp: float = 0.01

    def __post_init__(self) -> None:
        if not self.seeds:
            self.seeds = [self.starting_url]
        if self.scheduling not in ("dfs-parity", "throughput"):
            raise ValueError(
                f"scheduling must be one of dfs-parity/throughput, "
                f"got {self.scheduling!r}"
            )

    @classmethod
    def new(cls, path: str = "") -> "Config":
        """Defaults + JSON overlay; bad/missing file => pure defaults
        (reference src/config.rs:42-140)."""
        cfg = cls()
        if not path:
            return cfg
        try:
            with open(path) as f:
                raw = json.load(f)
        except (OSError, json.JSONDecodeError):
            return cfg
        if not isinstance(raw, dict):
            return cfg
        names = {f.name: f for f in dataclasses.fields(cls)}
        for key, value in raw.items():
            if key not in names:
                continue  # unknown keys ignored, like serde's Value::get misses
            # type-mismatched values keep the default, like the reference's
            # Value::as_* returning None (src/config.rs:76-132)
            current = getattr(cfg, key)
            if isinstance(current, bool):
                if not isinstance(value, bool):
                    continue
            elif isinstance(current, int):
                if not isinstance(value, int) or isinstance(value, bool):
                    continue
            elif isinstance(current, str):
                if not isinstance(value, str):
                    continue
            elif isinstance(current, list):
                if not isinstance(value, list):
                    continue
                value = [str(v) if v is not None else "" for v in value]
            setattr(cfg, key, value)
        if "seeds" not in raw and "starting_url" in raw:
            cfg.seeds = [cfg.starting_url]
        cfg.__post_init__()  # re-validate rebuild-only enums after overlay
        return cfg
