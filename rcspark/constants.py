"""Shared crawl-semantics constants.

This module is the single source of truth for every tunable that affects
crawl ORDER or the URL-seen SET. Both the Spark engine (rcspark.schedule,
rcspark.fetch, ...) and the pure-Python oracle simulator (rcspark.oracle)
import these — that sharing is what makes bit-for-bit crawl-order /
seen-set equality provable (SURVEY.md §5.3).

Scrapy-default anchors (public upstream defaults, see SURVEY.md §2 Table A):
- RETRY_TIMES=2, RETRY_PRIORITY_ADJUST=-1  [U scrapy/downloadermiddlewares/retry.py]
- DOWNLOAD_DELAY, per-domain concurrency    [U scrapy/settings/default_settings.py]
- robots allow/deny longest-prefix match    [U protego]
Deviations from Scrapy mandated by BASELINE.json's north rule are flagged
inline with "DEVIATION".
"""

from __future__ import annotations

# --------------------------------------------------------------------------
# Canonicalization (SURVEY.md A2; w3lib.canonicalize_url semantics, plus the
# north_star's tracking-param strip).
# DEVIATION vs w3lib: query kv-pairs are sorted by the whole "k=v" string
# (deterministic, matches Spark array_sort), not stable-sorted by key only.
# --------------------------------------------------------------------------
TRACKING_PARAM_RE = r"^(utm_.*|ref|fbclid|gclid|mc_cid|mc_eid|igshid)$"
DEFAULT_PORTS = {"http": 80, "https": 443}

# --------------------------------------------------------------------------
# Hashing / dedup (SURVEY.md A3, A4)
# --------------------------------------------------------------------------
XXHASH_SEED = 42           # Spark builtin xxhash64 default seed
BLOOM_SHARDS = 32          # local default; size for 10^10: see dedup.py docs
BLOOM_BITS_PER_SHARD = 1 << 20   # 128 KiB/shard locally
BLOOM_NUM_HASHES = 7

# --------------------------------------------------------------------------
# Politeness / scheduling (SURVEY.md A5, A6)
# One wave quantizes WAVE_SECONDS of crawl time. Scrapy's per-domain Slot
# models BOTH a delay and CONCURRENT_REQUESTS_PER_DOMAIN
# [U scrapy/core/downloader]; the quantization covering both regimes:
#   tick(h), group(h) = (delay_ms, 1)                     if delay(h) > 0
#                       (REQUEST_SERVICE_MS,              if delay(h) == 0
#                        CONCURRENT_PER_DOMAIN)             (burst mode)
#   fetch_ms(j) = ((j-1) // group) * tick        (j-th pop of host h)
#   budget(h)   = min(PER_HOST_CAP, group * max(1, floor(WAVE_MS / tick)))
# With delay > 0 Scrapy issues one request per delay tick regardless of
# concurrency, so group=1 reproduces the round-1 model exactly; delay == 0
# engages concurrent bursts. RANDOMIZE_DOWNLOAD_DELAY is OFF (north rule
# demands reproducible order).
# --------------------------------------------------------------------------
WAVE_SECONDS = 30.0
DOWNLOAD_DELAY = 0.5       # engine-wide floor on per-host delay
PER_HOST_CAP = 64          # ~CONCURRENT_REQUESTS_PER_DOMAIN * wave depth
HOST_SALTS = 8             # salt fan-out for skewed hosts (north rule A+B)
CONCURRENT_PER_DOMAIN = 8  # Scrapy CONCURRENT_REQUESTS_PER_DOMAIN default
REQUEST_SERVICE_MS = 100   # nominal service time pacing delay-0 bursts

# --------------------------------------------------------------------------
# Frontier policy (SURVEY.md A9, A11, A12)
# --------------------------------------------------------------------------
DEPTH_LIMIT = 6
DEPTH_PRIORITY = 0         # Scrapy default: no depth-based priority adjust
RETRY_TIMES = 2            # Scrapy default
RETRY_PRIORITY_ADJUST = -1 # Scrapy default
RETRY_STATUSES = frozenset({500, 502, 503, 504, 522, 524, 408, 429})
REDIRECT_STATUSES = frozenset({301, 302, 303, 307, 308})
MAX_REDIRECT_TIMES = 20    # Scrapy REDIRECT_MAX_TIMES

# Frontier row states
ST_PENDING = "pending"
ST_SCHEDULED = "scheduled"
ST_FETCHED = "fetched"
ST_ROBOTS_DENIED = "robots_denied"
ST_FAILED = "failed"

# --------------------------------------------------------------------------
# Ordering contract (SURVEY.md §3.4, §5.3) — THE load-bearing spec.
#
# Within a wave, per host, queued URLs pop in
#     (priority DESC, discovered_wave ASC, url_canon ASC)
# order; the j-th pop of host h is fetched at simulated time (j-1)*delay(h).
# The wave's global crawl order is
#     (fetch_time ASC, host ASC, j ASC)
# and seq = (cumulative count of all prior waves) + within-wave index.
#
# Seen-set membership: a canonical URL enters `seen` when first enqueued
# (Scrapy RFPDupeFilter marks at enqueue). Offsite/depth-filtered URLs are
# dropped BEFORE enqueue (spider middleware → never seen); robots-denied
# URLs are dropped AFTER enqueue (downloader middleware → in seen, never
# fetched). Retries bypass the dupefilter (dont_filter).
# --------------------------------------------------------------------------
