"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship Sagan-style parse → match → correlate →
enrich → route pipeline (sagan_spark/) over a transcripts table derived
deterministically from the driver's ``events`` parquet; ``queries()`` /
``oracle_sql()`` expose every operator with a DuckDB-checkable ANSI-SQL
oracle.

Design: the transcripts input (conv_id, turn_idx, role, text, tool, ts) is
synthesized *in SQL* from the events table — the same CTE text runs in
Spark and DuckDB (only the epoch-seconds expression differs per dialect) —
so both engines see bit-identical input, and the oracle re-derives each
pipeline decision in pure SQL:

* content/pcre/meta_content matching  → LIKE / regexp predicates
* parse_src_ip / parse_hash           → regexp_extract
* classtype map lookup (J1)           → inline VALUES join
* after / threshold window semantics  → recursive CTEs (the data-dependent
  reset anchoring of after.c:130-137 / threshold.c:131 is a sequential
  fold, hence WITH RECURSIVE)
* xbit set/isset with expiry          → window MAX over preceding set rows
* routed sinks + per-sink counts      → the same filters, aggregated

The training-data operators (dedup, fingerprinting, token stats, lang-id,
quality, ANN search) run over the driver's documents/embeddings tables
with direct SQL oracles.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable
from functools import lru_cache

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from pyspark.sql import DataFrame, SparkSession, functions as F  # noqa: E402

# ---------------------------------------------------------------------------
# shared transcripts derivation (identical text in both dialects modulo the
# epoch expression)
# ---------------------------------------------------------------------------

_T_TEMPLATE = """
SELECT
  'conv-' || LPAD(CAST(user_id AS STRING), 8, '0') AS conv_id,
  CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
       AS INT) AS turn_idx,
  CASE WHEN event_id % 4 = 0 THEN 'user'
       WHEN event_id % 4 = 1 THEN 'assistant'
       WHEN event_id % 4 = 2 THEN 'tool'
       ELSE 'system' END AS role,
  CASE WHEN event_id % 97 = 0 THEN CAST(NULL AS STRING)
       WHEN event_id % 8 = 0 THEN 'Invalid login from 12.'
            || CAST(event_id % 256 AS STRING) || '.'
            || CAST(CAST(FLOOR(event_id / 7) AS BIGINT) % 256 AS STRING)
            || '.' || CAST(1 + (event_id % 250) AS STRING)
       WHEN event_id % 8 = 1 THEN 'connection from 192.168.'
            || CAST(event_id % 200 AS STRING) || '.'
            || CAST(1 + (event_id % 250) AS STRING) || ':'
            || CAST(1024 + (event_id % 50000) AS STRING)
       WHEN event_id % 8 = 2 THEN 'user '
            || CASE WHEN event_id % 3 = 0 THEN 'mary'
                    WHEN event_id % 3 = 1 THEN 'frank'
                    ELSE 'alice' END || ' login failed'
       WHEN event_id % 8 = 3 THEN
            CASE WHEN event_id % 16 = 3 THEN 'File system full'
                 ELSE 'No space left on device' END
       WHEN event_id % 8 = 4 THEN 'DEBUG heartbeat ok'
       WHEN event_id % 8 = 5 THEN 'file quarantined md5='
            || REPEAT(LPAD(CAST(event_id % 100000000 AS STRING), 8, '0'), 4)
       WHEN event_id % 8 = 6 THEN
            CASE WHEN CAST(FLOOR(event_id / 8) AS BIGINT) % 2 = 0
                 THEN 'stage1 marker cmd=alpha'
                 ELSE 'stage2 marker cmd=beta' END
       ELSE 'probe attempt seq=' || CAST(event_id % 7 AS STRING)
  END AS text,
  event_type AS tool,
  ts,
  {EPOCH} AS epoch
FROM events
"""

T_SPARK = _T_TEMPLATE.format(EPOCH="unix_timestamp(ts)")
T_DUCK = _T_TEMPLATE.format(EPOCH="CAST(FLOOR(epoch(ts)) AS BIGINT)")

# correlation parameters shared by rules-entry/entry.rules and the oracle
_S = 259200          # after/threshold seconds & xbit expire (3 days)
_C = 2               # after/threshold count

_IGNORE = "DEBUG heartbeat"

# classtype → (description, priority); mirrors rules-entry/classification.config
_CLS = [
    ("unsuccessful-user", "Unsuccessful User Privilege Gain", 1),
    ("hardware-event", "Hardware Event", 3),
    ("suspicious-login", "An Attempted Login Using a Suspicious Username", 2),
    ("brute-force", "Brute Force Attack", 1),
    ("attempted-recon", "Attempted Information Leak", 2),
    ("suspicious-command", "Suspicious Command Execution", 2),
    ("suspicious-filename-detect", "A Suspicious Filename Was Detected", 2),
    ("not-suspicious", "Not Suspicious Traffic", 3),
]
_CLS_VALUES = ", ".join(f"('{k}', '{d}', {p})" for k, d, p in _CLS)

_IP4 = r"[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+"

# per-rule match blocks: identical extraction semantics to
# sagan_spark/extract.py on these template texts
_MATCH_BLOCKS = f"""
  SELECT conv_id, turn_idx, epoch, text, CAST(6000001 AS BIGINT) AS sid,
         1 AS rev, 'alert' AS action, 'E1 invalid login' AS msg,
         'unsuccessful-user' AS classtype,
         regexp_extract(text, 'from ({_IP4})', 1) AS ip_src, 514 AS src_port,
         conv_id AS ip_dst, 514 AS dst_port, 'udp' AS proto, '' AS hash
  FROM kept WHERE text LIKE '%Invalid login from%'
  UNION ALL
  SELECT conv_id, turn_idx, epoch, text, CAST(6000002 AS BIGINT), 1, 'alert',
         'E2 disk event', 'hardware-event',
         conv_id, 514, conv_id, 514, 'udp', ''
  FROM kept WHERE lower(text) LIKE '%file system full%'
             OR lower(text) LIKE '%no space left on device%'
  UNION ALL
  SELECT conv_id, turn_idx, epoch, text, CAST(6000003 AS BIGINT), 1, 'alert',
         'E3 watched user', 'suspicious-login',
         conv_id, 514, conv_id, 514, 'udp', ''
  FROM kept WHERE text LIKE '%user mary login%' OR text LIKE '%user frank login%'
  UNION ALL
  SELECT conv_id, turn_idx, epoch, text, CAST(6000004 AS BIGINT), 1, 'alert',
         'E4 brute force', 'brute-force',
         conv_id, 514, conv_id, 514, 'udp', ''
  FROM kept WHERE text LIKE '%login failed%'
  UNION ALL
  SELECT conv_id, turn_idx, epoch, text, CAST(6000005 AS BIGINT), 1, 'alert',
         'E5 probe limited', 'attempted-recon',
         conv_id, 514, conv_id, 514, 'udp', ''
  FROM kept WHERE text LIKE '%probe attempt%'
  UNION ALL
  SELECT conv_id, turn_idx, epoch, text, CAST(6000006 AS BIGINT), 1, 'alert',
         'E6 stage1', 'suspicious-command',
         conv_id, 514, conv_id, 514, 'udp', ''
  FROM kept WHERE text LIKE '%stage1 marker%'
  UNION ALL
  SELECT conv_id, turn_idx, epoch, text, CAST(6000007 AS BIGINT), 1, 'alert',
         'E7 stage2', 'suspicious-command',
         conv_id, 514, conv_id, 514, 'udp', ''
  FROM kept WHERE text LIKE '%stage2 marker%'
  UNION ALL
  SELECT conv_id, turn_idx, epoch, text, CAST(6000008 AS BIGINT), 1, 'alert',
         'E8 md5 seen', 'suspicious-filename-detect',
         conv_id, 514, conv_id, 514, 'udp',
         lower(regexp_extract(text, 'md5=([0-9a-fA-F]{{32}})', 1))
  FROM kept WHERE text LIKE '%md5=%'
  UNION ALL
  SELECT conv_id, turn_idx, epoch, text, CAST(6000009 AS BIGINT), 1, 'alert',
         'E9 connection', 'not-suspicious',
         regexp_extract(text, 'from ({_IP4}):', 1),
         CAST(regexp_extract(text, ':([0-9]+)', 1) AS INT),
         conv_id, 514, 'udp', ''
  FROM kept WHERE text LIKE '%connection from%'
             AND regexp_full_match(tool, '(error|view.*)')
  UNION ALL
  SELECT conv_id, turn_idx, epoch, text, CAST(6000010 AS BIGINT), 1, 'alert',
         'E10 windowed login', 'suspicious-login',
         conv_id, 514, conv_id, 514, 'udp', ''
  FROM kept WHERE substr(text, 9, 13) LIKE '%login%'
  UNION ALL
  SELECT conv_id, turn_idx, epoch, text, CAST(6000011 AS BIGINT), 1, 'alert',
         'E11 lan conn', 'not-suspicious',
         regexp_extract(text, 'from ({_IP4}):', 1),
         CAST(regexp_extract(text, ':([0-9]+)', 1) AS INT),
         conv_id, 514, 'udp', ''
  FROM kept WHERE text LIKE '%connection from 192.168.%'
             AND CAST(regexp_extract(text, ':([0-9]+)', 1) AS INT)
                 BETWEEN 1024 AND 30000
"""

# full-pipeline oracle prelude: transcripts → parsed → kept/dropped →
# matches → correlation flags (recursive CTEs) → emitted
_PIPE_PRELUDE = f"""
WITH RECURSIVE t AS ({T_DUCK}),
p AS (SELECT conv_id, turn_idx, role, COALESCE(text, '') AS text, tool, epoch
      FROM t),
kept AS (SELECT * FROM p WHERE text NOT LIKE '%{_IGNORE}%'),
dropped AS (SELECT * FROM p WHERE text LIKE '%{_IGNORE}%'),
m AS ({_MATCH_BLOCKS}),
aord AS (SELECT conv_id, turn_idx, epoch,
         ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY epoch, turn_idx)
           AS rn
         FROM m WHERE sid = 6000004),
arec AS (
  SELECT conv_id, turn_idx, rn, epoch, 1 AS cnt, epoch AS utime, TRUE AS sup
  FROM aord WHERE rn = 1
  UNION ALL
  SELECT a.conv_id, a.turn_idx, a.rn, a.epoch,
         CASE WHEN a.epoch - q.utime > {_S} THEN 1 ELSE q.cnt + 1 END,
         CASE WHEN (CASE WHEN a.epoch - q.utime > {_S} THEN 1
                         ELSE q.cnt + 1 END) > {_C} THEN a.epoch
              WHEN a.epoch - q.utime > {_S} THEN a.epoch
              ELSE q.utime END,
         ((CASE WHEN a.epoch - q.utime > {_S} THEN 1
                ELSE q.cnt + 1 END) <= {_C})
  FROM aord a JOIN arec q ON a.conv_id = q.conv_id AND a.rn = q.rn + 1),
tord AS (SELECT conv_id, turn_idx, epoch,
         ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY epoch, turn_idx)
           AS rn
         FROM m WHERE sid = 6000005),
trec AS (
  SELECT conv_id, turn_idx, rn, epoch, 1 AS cnt, FALSE AS sup
  FROM tord WHERE rn = 1
  UNION ALL
  SELECT b.conv_id, b.turn_idx, b.rn, b.epoch,
         CASE WHEN b.epoch - q.epoch > {_S} THEN 1 ELSE q.cnt + 1 END,
         ((CASE WHEN b.epoch - q.epoch > {_S} THEN 1
                ELSE q.cnt + 1 END) > {_C})
  FROM tord b JOIN trec q ON b.conv_id = q.conv_id AND b.rn = q.rn + 1),
xb AS (SELECT conv_id, turn_idx, sid, epoch,
       MAX(CASE WHEN sid = 6000006 THEN epoch END) OVER
         (PARTITION BY conv_id ORDER BY epoch, turn_idx, sid
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_set
       FROM m WHERE sid IN (6000006, 6000007)),
flags AS (
  SELECT conv_id, turn_idx, CAST(6000004 AS BIGINT) AS sid,
         sup AS sup_after, FALSE AS sup_thresh, TRUE AS xpass FROM arec
  UNION ALL
  SELECT conv_id, turn_idx, CAST(6000005 AS BIGINT), FALSE, sup, TRUE
  FROM trec
  UNION ALL
  SELECT conv_id, turn_idx, sid, FALSE, FALSE,
         CASE WHEN sid = 6000006 THEN TRUE
              ELSE (last_set IS NOT NULL AND epoch < last_set + {_S}) END
  FROM xb),
emitted AS (
  SELECT m.*, COALESCE(f.sup_after, FALSE) AS sup_after,
         COALESCE(f.sup_thresh, FALSE) AS sup_thresh,
         COALESCE(f.xpass, TRUE) AS xpass
  FROM m LEFT JOIN flags f
    ON m.conv_id = f.conv_id AND m.turn_idx = f.turn_idx AND m.sid = f.sid),
cls(classtype, class_desc, class_pri) AS (VALUES {_CLS_VALUES})
"""

# ---------------------------------------------------------------------------
# Spark-side helpers
# ---------------------------------------------------------------------------

_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
           "lineitem", "events", "documents", "embeddings")


def _register(spark: SparkSession, sf_dir: str) -> None:
    from sagan_spark.session import ship_package
    ship_package(spark)   # executor-side imports work from any driver cwd
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    for t in _TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            spark.read.parquet(path).createOrReplaceTempView(t)


def _transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register(spark, sf_dir)
    return spark.sql(T_SPARK)


@lru_cache(maxsize=None)
def _corpus(name: str):
    """The compiled ruleset of ``rules-entry/<name>`` ('' is rules-entry
    itself)."""
    from sagan_spark.rules.compiler import compile_ruleset_from_dir
    return compile_ruleset_from_dir(os.path.join(REPO, "rules-entry", name))


# One memoized pipeline run per rules corpus: every query over a corpus
# reads the same PipelineResult, so the correctness gate (one session,
# every query) pays parse → match → correlate once per corpus and reuses the
# persisted correlated frame.  Match-stage queries read ``correlated`` too:
# correlate emits every matched row with its match columns unchanged.
#
# Keyed (applicationId, sf_dir, corpus) — applicationId is unique per
# SparkContext lifetime, so a NEW session after a stop can never collide
# with a dead entry (id(spark) could: CPython reuses ids).  Values carry
# the owning session so entries of stopped sessions are evicted on every
# access (their persisted frames died with the context).
_RUNS: dict = {}


def _session_live(spark: SparkSession) -> bool:
    try:
        return spark.sparkContext._jsc is not None
    except Exception:  # stopped/broken session — treat as dead
        return False


def _run(spark: SparkSession, sf_dir: str, corpus: str):
    """The memoized ``PipelineResult`` of ``rules-entry/<corpus>`` over the
    transcripts of ``sf_dir``; the ``dynamic`` corpus runs through
    ``run_pipeline_dynamic`` (its ``detections`` are set)."""
    for k in [k for k, (sess, _) in _RUNS.items() if not _session_live(sess)]:
        del _RUNS[k]   # no unpersist: the frames died with their context
    key = (spark.sparkContext.applicationId, sf_dir, corpus)
    if key not in _RUNS:
        from sagan_spark.dynamic import run_pipeline_dynamic
        from sagan_spark.pipeline import run_pipeline
        rs, t = _corpus(corpus), _transcripts(spark, sf_dir)
        if corpus == "dynamic":
            res, _ = run_pipeline_dynamic(
                spark, t, rs, rules_root=os.path.join(REPO, "rules-entry",
                                                      corpus),
                sample_rate=5)
        else:
            res = run_pipeline(spark, t, rs)
        _RUNS[key] = (spark, res)
    return _RUNS[key][1]


def clear_entry_caches() -> None:
    """Unpersist and drop every memoized pipeline run.  Tests call this to
    assert no persisted RDDs leak across queries."""
    for sess, res in _RUNS.values():
        if _session_live(sess):
            res.unpersist()
    _RUNS.clear()


def _matched(spark: SparkSession, sf_dir: str, corpus: str, *sids):
    """The corpus's matched (and correlated) rows of the given sids."""
    return _run(spark, sf_dir, corpus).correlated.filter(
        F.col("sid").isin(*sids))


# ---------------------------------------------------------------------------
# queries — Sagan pipeline over derived transcripts
# ---------------------------------------------------------------------------

def _q_pipeline_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full parse→match→correlate→enrich→route, alert sink."""
    return _run(spark, sf_dir, "").alerts.select(
        "conv_id", "turn_idx",
        F.unix_timestamp("ts").cast("long").alias("epoch"),
        "sid", "rev", "action", "msg", "classtype", "class_desc",
        F.col("pri").cast("int").alias("pri"),
        "ip_src", F.col("src_port").cast("int").alias("src_port"),
        "ip_dst", F.col("dst_port").cast("int").alias("dst_port"),
        "proto", "text")


def _q_sink_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir, "").counters


def _q_parse_sentinels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.parse import malformed_counts, parse_transcripts
    return malformed_counts(parse_transcripts(_transcripts(spark, sf_dir)))


def _q_ignore_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir, "").drops.select("conv_id", "turn_idx", "text")


def _q_match_content_ip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (_matched(spark, sf_dir, "", 6000001)
            .select("conv_id", "turn_idx", "sid", "ip_src",
                    F.col("src_port").cast("int").alias("src_port"), "proto"))


def _q_match_pcre(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (_matched(spark, sf_dir, "", 6000002)
            .select("conv_id", "turn_idx", "sid"))


def _q_match_meta_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (_matched(spark, sf_dir, "", 6000003)
            .select("conv_id", "turn_idx"))


def _q_match_program_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (_matched(spark, sf_dir, "", 6000009)
            .select("conv_id", "turn_idx", "ip_src",
                    F.col("src_port").cast("int").alias("src_port")))


def _q_extract_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (_matched(spark, sf_dir, "", 6000008)
            .select("conv_id", "turn_idx", "hash"))


def _q_correlate_after(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (_matched(spark, sf_dir, "", 6000004)
            .select("conv_id", "turn_idx", "epoch", "suppress_after"))


def _q_correlate_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (_matched(spark, sf_dir, "", 6000005)
            .select("conv_id", "turn_idx", "epoch", "suppress_thresh"))


def _q_correlate_xbit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (_matched(spark, sf_dir, "", 6000006, 6000007)
            .select("conv_id", "turn_idx", "sid", "xbit_pass"))


def _q_enrich_classtype(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.enrich import enrich_alerts
    return (enrich_alerts(_run(spark, sf_dir, "").correlated, spark,
                          _corpus(""))
            .select("conv_id", "turn_idx", "sid", "classtype", "class_desc",
                    F.col("pri").cast("int").alias("pri")))


# ---------------------------------------------------------------------------
# queries — flexbits, gates, JSON input, sinks (round-2 operator surface)
# ---------------------------------------------------------------------------

def _q_correlate_flexbit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: flexbit set → isset by_src pair with 3-day expiry
    (flexbit-mmap.c:745-1467 set, 104-116 isset-by_src)."""
    return (_matched(spark, sf_dir, "flexbit", 6100001, 6100002)
            .select("conv_id", "turn_idx", "sid", "flexbit_pass"))


def _q_flexbit_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: flexbit count gt comparator (flexbit-mmap.c:671-744) — passes
    once any store entry exists for the source."""
    return (_matched(spark, sf_dir, "flexbit", 6100003)
            .select("conv_id", "turn_idx", "flexbit_pass"))


def _q_intel_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: zeek-intel ADDR + DOMAIN membership gates
    (engine.c:1396-1459)."""
    return (_matched(spark, sf_dir, "gates", 6200001, 6200003)
            .select("conv_id", "turn_idx", "sid", "ip_src"))


def _q_geoip_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: country_code interval-table gate (geoip.c:93-206,
    engine.c:1161-1225)."""
    return (_matched(spark, sf_dir, "gates", 6200002)
            .select("conv_id", "turn_idx", "ip_src"))


def _q_match_facility_quirk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 + last-present-gate-wins quirk (engine.c:401-485): G5 carries
    both program: and facility:; only the facility set gates (role in
    user|tool), the program glob is ignored."""
    return (_matched(spark, sf_dir, "gates", 6200005)
            .select("conv_id", "turn_idx", "role"))


def _q_match_level_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 syslog_level gate (engine.c:441-455) over the role column."""
    return (_matched(spark, sf_dir, "gates", 6200006)
            .select("conv_id", "turn_idx", "role"))


def _q_match_negation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 content negation (rules.c '!' modifier): positive substring
    present AND negated substring absent."""
    return (_matched(spark, sf_dir, "gates", 6200007)
            .select("conv_id", "turn_idx", "text"))


def _ipkeys(spark: SparkSession, sf_dir: str, sid: int) -> DataFrame:
    """Correlated rows of the IP-keyed corpus — parse_src_ip keys give
    every cluster a store key instead of conv_id (the reference's primary
    deployment mode, after.c:108-110 hashes extracted addresses)."""
    from sagan_spark.correlate import cluster_modes
    assert "store" in cluster_modes(_corpus("ipkeys")).values()
    return _matched(spark, sf_dir, "ipkeys", sid)


def _q_correlate_after_ip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 on extracted-IP keys (after.c:108-110): the after fold keyed by
    parse_src_ip addresses that recur across conversations."""
    return (_ipkeys(spark, sf_dir, 6400001)
            .select("conv_id", "turn_idx", "epoch", "ip_src",
                    "suppress_after"))


def _q_correlate_threshold_ip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 on extracted-IP keys (threshold.c:118-123 rolling anchor)."""
    return (_ipkeys(spark, sf_dir, 6400002)
            .select("conv_id", "turn_idx", "epoch", "ip_src",
                    "suppress_thresh"))


def _q_correlate_xbit_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 with track ip_pair on extracted src (xbit-mmap.c:88-91), keyed
    by the xbit track value."""
    return (_ipkeys(spark, sf_dir, 6400003)
            .select("conv_id", "turn_idx", "xbit_pass"))


def _q_correlate_flexbit_ip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 on extracted-IP keys through the flexbit fold sharded by cluster
    and src, including the exact-tally overcount quirk: one src live from
    TWO conversations (two store entries) makes isset FAIL
    (flexbit-mmap.c:116-318,637)."""
    return (_ipkeys(spark, sf_dir, 6400005)
            .select("conv_id", "turn_idx", "flexbit_pass"))


def _q_correlate_dual_ip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+A2 with DIFFERENT tracks on ONE rule: after keyed by the
    extracted src (after.c:113-117), threshold keyed by the conv-fallback
    dst (threshold.c:118-121), coupled by engine order — after-suppressed
    rows never reach the threshold counter (engine.c:1528).  The row
    carries two state keys, so the rule's cluster folds as one serial
    group, on the same single plan as every other ruleset, batch and
    streaming alike (test_stream_dual_track_equal_batch)."""
    from sagan_spark.correlate import cluster_modes
    assert cluster_modes(_corpus("dual")) == {0: "serial"}
    return _run(spark, sf_dir, "dual").correlated.select(
        "conv_id", "turn_idx", "epoch", "suppress_after", "suppress_thresh")


def _q_normalize_liblognorm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 with a VERBATIM liblognorm v1 rulebase (%field:type% samples,
    the DSL src/liblognormalize.c:64-104 loads): auto-detected and
    translated at load, extraction via the batched regex path."""
    return (_run(spark, sf_dir, "normalize").correlated
            .select("conv_id", "turn_idx", "sid", "ip_src", "username"))


def _q_blacklist_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: CIDR blacklist membership on src OR dst
    (processors/blacklist.c:244-297)."""
    return (_matched(spark, sf_dir, "gates", 6200004)
            .select("conv_id", "turn_idx", "ip_src"))


# JSON-derived event table: identical SQL text in both dialects
_J_TEMPLATE = """
SELECT 'conv-' || LPAD(CAST(user_id AS STRING), 8, '0') AS conv_id,
  CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
       AS INT) AS turn_idx,
  CASE WHEN event_id % 5 = 0 THEN 'not json at all'
       WHEN event_id % 5 = 1 THEN '{"src":"10.0.'
            || CAST(event_id % 200 AS STRING)
            || '.1","prog":"sshd","msg":"login failed for root"}'
       WHEN event_id % 5 = 2 THEN '{"src":"10.1.2.3","msg":"no prog key"}'
       WHEN event_id % 5 = 3 THEN
            '{"src":"10.9.9.9","prog":"nginx","msg":"GET /index"}'
       ELSE '{broken json' END AS text
FROM events
"""


def _q_parse_json_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: json-input.map-driven field projection with UNDEFINED
    defaults, the leading-space message quirk, and the malformed counter
    (input-json.c:45-160)."""
    from sagan_spark.json_input import load_json_input_map, parse_json_input
    _register(spark, sf_dir)
    with open(os.path.join(REPO, "rules-entry", "json",
                           "json-input.map")) as f:
        mapping = load_json_input_map(f.read(), software="testsuite")
    j = spark.sql(_J_TEMPLATE)
    return parse_json_input(j, mapping).select(
        "conv_id", "turn_idx", "malformed_json", "host", "program",
        "message")


# embedded-JSON table: program-mode (case 2) and message-mode payloads
_EJ_TEMPLATE = """
SELECT 'conv-' || LPAD(CAST(user_id AS STRING), 8, '0') AS conv_id,
  CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
       AS INT) AS turn_idx,
  CASE WHEN event_id % 4 = 2 THEN '{"client_ip":"10.7.7.'
            || CAST(event_id % 250 AS STRING) || '","acct":"frank",'
       ELSE 'app' END AS program,
  CASE WHEN event_id % 4 = 0 THEN ' plain text login failed'
       WHEN event_id % 4 = 1 THEN ' {"src_ip":"10.0.'
            || CAST(event_id % 200 AS STRING)
            || '.9","md5":"' || REPEAT('ab', 16)
            || '","user":"mary","msg":"embedded one"}'
       WHEN event_id % 4 = 2 THEN '"log":"program json"}'
       ELSE ' {"client_ip":"10.3.3.3","acct":"bob","log":"second map"}'
  END AS message
FROM events
"""


def _q_embedded_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: embedded-JSON detector + best-scoring message map re-extract
    (engine.c:239-291, message-json-map.c scoring)."""
    from sagan_spark.json_input import (
        extract_embedded_json,
        load_message_json_maps,
    )
    _register(spark, sf_dir)
    with open(os.path.join(REPO, "rules-entry", "json",
                           "json-message.map")) as f:
        maps = load_message_json_maps(f.read())
    j = spark.sql(_EJ_TEMPLATE)
    return extract_embedded_json(j, maps).select(
        "conv_id", "turn_idx", "json_message", "json_src_ip", "json_md5",
        "json_username")


def _q_enrich_references(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/J3 wired into the alert sink: sorted Xref URL block
    (references.c:141-209) + generator message (gen-msg.c:132-148)."""
    return (_run(spark, sf_dir, "").alerts
            .filter(F.col("sid").isin(6000001, 6000004))
            .select("conv_id", "turn_idx", "sid", "ref_urls", "gen_msg"))


def _q_fast_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2: one-line Snort fast format (fast.c:46-80)."""
    from sagan_spark.route import fast_sink
    return fast_sink(_run(spark, sf_dir, "").correlated, _corpus(""))


def _q_unified2_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5: unified2 record fields as a typed routed table
    (unified2.c:140-175)."""
    from sagan_spark.route import unified2_sink
    return unified2_sink(_run(spark, sf_dir, "").correlated, _corpus(""))


_TRACK_TIMEOUT = 43200   # 12h — half the 3-day correlation horizon


def _q_track_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 full semantics: per-source quiet (DOWN) / return (UP)
    transitions with a timeout (track-clients.c:72-367)."""
    from sagan_spark.parse import parse_transcripts
    from sagan_spark.route import track_client_transitions
    parsed = parse_transcripts(_transcripts(spark, sf_dir))
    return track_client_transitions(parsed, _TRACK_TIMEOUT)


def _q_dynamic_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.3 dynamic rule loading, batch-reinterpreted: sampled detection
    (1-in-5 md5 sample) → one detection alert for the first trigger →
    the hot-loaded ruleset's matches over the batch
    (dynamic-rules.c:58-182)."""
    res = _run(spark, sf_dir, "dynamic")
    detect = res.detections.select("conv_id", "turn_idx", "sid",
                                   F.lit("detect").alias("kind"))
    loaded = (res.alerts.filter(F.col("sid") == 6300002)
              .select("conv_id", "turn_idx", "sid",
                      F.lit("loaded").alias("kind")))
    return detect.unionByName(loaded)


def _q_eve_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4: event_type:"log" record per processed (non-ignored) turn
    (json-handler.c:258-322, engine.c:1662-1668)."""
    from sagan_spark.parse import parse_transcripts, split_ignored
    from sagan_spark.route import eve_log_sink
    parsed = parse_transcripts(_transcripts(spark, sf_dir))
    kept, _ = split_ignored(parsed, _corpus("").ignore_list)
    return eve_log_sink(kept).select(
        "conv_id", "turn_idx", "event_type", "text")


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded near-dups: 16-bit pigeonhole blocks → equi-join →
    exact hamming verify (any pair within distance 3 shares a block)."""
    from sagan_spark.functions.dedup import simhash_near_dups
    docs = _docs_with_dups(spark, sf_dir).filter(
        (F.col("doc_id") % 1000000) < 400)
    return (simhash_near_dups(docs, max_hamming=3)
            .select("doc_a", "doc_b",
                    F.col("hamming").cast("int").alias("hamming")))


def _q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs (banded equi-join + exact verify) —
    equals the all-pairs result at the threshold; the scale-safe dedup
    path and the headline dedup benchline."""
    from sagan_spark.functions.dedup import minhash_lsh_pairs
    docs = _docs_with_dups(spark, sf_dir).filter(
        (F.col("doc_id") % 1000000) < 400)
    return (minhash_lsh_pairs(docs, threshold=0.8)
            .select("doc_a", "doc_b",
                    F.col("jaccard").cast("double").alias("jaccard")))


# ---------------------------------------------------------------------------
# queries — training-data operators over documents / embeddings
# ---------------------------------------------------------------------------

def _docs_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ deterministic duplicates (doc_id+1000000 for id%10==0) —
    gives exact-dedup real groups to find."""
    _register(spark, sf_dir)
    d = spark.table("documents").select("doc_id", "text")
    dups = (d.filter(F.col("doc_id") % 10 == 0)
            .withColumn("doc_id", F.col("doc_id") + 1000000))
    return d.unionByName(dups)


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.functions.dedup import exact_dedup
    return exact_dedup(_docs_with_dups(spark, sf_dir))


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.functions.dedup import ngram_jaccard_pairs
    docs = _docs_with_dups(spark, sf_dir).filter(
        (F.col("doc_id") % 1000000) < 100)
    return (ngram_jaccard_pairs(docs, threshold=0.8)
            .select("doc_a", "doc_b",
                    F.col("jaccard").cast("double").alias("jaccard")))


def _q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.functions.text import fingerprint
    _register(spark, sf_dir)
    return fingerprint(spark.table("documents")).select("doc_id", "fp_md5")


def _q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.functions.text import token_count
    _register(spark, sf_dir)
    return token_count(spark.table("documents")).select(
        "doc_id", "n_tokens_ws", "n_tokens_bpe")


def _q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.functions.text import quality_flags
    _register(spark, sf_dir)
    return quality_flags(spark.table("documents"))


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.functions.text import lang_id
    _register(spark, sf_dir)
    return lang_id(spark.table("documents")).select("doc_id", "lang_pred")


def _q_knn_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.functions.similarity import brute_force_topk
    _register(spark, sf_dir)
    emb = spark.table("embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    q = emb.filter(F.col("vec_id") < 5)
    return (brute_force_topk(emb, q, k=5)
            .select("query_id", "neighbor_id", "cosine",
                    F.col("rank").cast("int").alias("rank")))


def _q_match_offset_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (_matched(spark, sf_dir, "", 6000010)
            .select("conv_id", "turn_idx", "sid"))


def _q_flow_targeting(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (_matched(spark, sf_dir, "", 6000011)
            .select("conv_id", "turn_idx", "ip_src",
                    F.col("src_port").cast("int").alias("src_port")))


def _q_track_clients(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 analog (processors/track-clients.c:72-367): per-source last-seen."""
    from sagan_spark.parse import parse_transcripts
    parsed = parse_transcripts(_transcripts(spark, sf_dir))
    return parsed.groupBy("conv_id").agg(
        F.max("epoch").alias("last_seen"),
        F.count("*").alias("n_turns"))


def _q_client_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 analog (processors/client-stats.c:199-286): per-source volume."""
    from sagan_spark.parse import parse_transcripts
    parsed = parse_transcripts(_transcripts(spark, sf_dir))
    return parsed.groupBy("conv_id").agg(
        F.count("*").alias("n_msgs"),
        F.min("epoch").alias("first_seen"),
        F.sum(F.length("text")).alias("bytes"))


def _q_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.functions.dedup import minhash_signatures
    _register(spark, sf_dir)
    sig = minhash_signatures(spark.table("documents").select("doc_id", "text"))
    return sig.select(
        "doc_id",
        F.col("sig")[0].alias("m0"), F.col("sig")[1].alias("m1"),
        F.col("sig")[2].alias("m2"), F.col("sig")[3].alias("m3"))


_MEDIA_KIND = ("CASE WHEN doc_id % 3 = 0 THEN 'image' "
               "WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END")


def _media_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → opaque-binary media table (text bytes as the payload
    stand-in; schema/plumbing identical to a real media lake)."""
    _register(spark, sf_dir)
    return spark.sql(f"""
        SELECT doc_id AS media_id, {_MEDIA_KIND} AS kind,
               CAST(text AS BINARY) AS payload,
               'application/x-fake' AS mime,
               CAST(32 + doc_id % 8 AS INT) AS width,
               CAST(24 + doc_id % 6 AS INT) AS height,
               CAST(1000 + (doc_id % 1000) * 10 AS INT) AS duration_ms
        FROM documents""")


def _q_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.functions.multimodal import media_metadata
    return media_metadata(_media_df(spark, sf_dir))


# -- rows-only coverage (no SQL-expressible oracle: engine-specific hashes,
#    approximate ANN, pandas-UDF media decode, JSON rendering) -------------

def _q_simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.functions.dedup import simhash
    _register(spark, sf_dir)
    return simhash(spark.table("documents").select("doc_id", "text"))


def _q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.functions.similarity import lsh_ann_topk
    _register(spark, sf_dir)
    emb = spark.table("embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    q = emb.filter(F.col("vec_id") < 5)
    return lsh_ann_topk(emb, q, k=5)


def _q_cosine_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: LSH-banded candidate self-join +
    exact cosine >= 0.30 verify (the corpus is near-random, max pairwise
    cosine ~0.38, so 0.30 marks its top 'near-duplicate' tail)."""
    from sagan_spark.functions.similarity import cosine_dup_pairs
    _register(spark, sf_dir)
    emb = spark.table("embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    return cosine_dup_pairs(emb, threshold=0.30)


def _q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.functions.multimodal import extract_features
    return (extract_features(_media_df(spark, sf_dir))
            .select("media_id", "kind",
                    F.round(F.element_at("features", 1), 6).alias("f0")))


def _q_perfmon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: perfmon periodic counters — received / gated matches /
    emitted alerts per 6h epoch bucket (perfmon.c:132-193 analog)."""
    from sagan_spark.parse import parse_transcripts
    from sagan_spark.route import perfmon_report
    parsed = parse_transcripts(_transcripts(spark, sf_dir))
    return perfmon_report(parsed, _run(spark, sf_dir, "").correlated,
                          _corpus(""), interval_sec=21600)


def _q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-lite ANN: deterministic seed centroids → cell assignment →
    nprobe probing → exact rerank (the 100 TB path where a brute scan is
    too wide)."""
    from sagan_spark.functions.similarity import ivf_topk
    _register(spark, sf_dir)
    emb = spark.table("embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    q = emb.filter(F.col("vec_id") < 5)
    return (ivf_topk(emb, q, k=5)
            .select("query_id", "neighbor_id", "cosine",
                    F.col("rank").cast("int").alias("rank")))


def _q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame-sampling fan-out: one row per sampled video
    frame (mapInPandas 1→N expansion, no shuffle)."""
    from sagan_spark.functions.multimodal import sample_frames
    return (sample_frames(_media_df(spark, sf_dir), every_ms=500)
            .select("media_id", "frame_ms",
                    F.col("frame_feature").cast("double")
                    .alias("frame_feature")))


def _q_eve_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.pipeline import to_eve_json
    return to_eve_json(_run(spark, sf_dir, "").eve_alerts)


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect)
# ---------------------------------------------------------------------------

_ORACLES: dict[str, str] = {}

_ORACLES["pipeline_alerts"] = _PIPE_PRELUDE + """
SELECT e.conv_id, e.turn_idx, e.epoch, e.sid, e.rev, e.action, e.msg,
       e.classtype, c.class_desc, CAST(c.class_pri AS INT) AS pri,
       e.ip_src, e.src_port, e.ip_dst, e.dst_port, e.proto, e.text
FROM emitted e JOIN cls c ON e.classtype = c.classtype
WHERE NOT e.sup_after AND NOT e.sup_thresh AND e.xpass
"""

_ORACLES["sink_counts"] = _PIPE_PRELUDE + f"""
SELECT (SELECT COUNT(*) FROM p) AS events_received,
       (SELECT COUNT(*) FROM kept) AS events_processed,
       (SELECT COUNT(*) FROM dropped) AS ignore_count,
       (SELECT COUNT(*) FROM emitted WHERE xpass) AS saganfound,
       (SELECT COUNT(*) FROM emitted
        WHERE NOT sup_after AND NOT sup_thresh AND xpass) AS alert_total,
       (SELECT COUNT(*) FROM emitted
        WHERE sid = 6000004 AND NOT sup_after AND xpass) AS after_total,
       (SELECT COUNT(*) FROM emitted WHERE sup_thresh AND xpass)
         AS threshold_total
"""

_ORACLES["parse_sentinels"] = f"""
WITH t AS ({T_DUCK})
SELECT COUNT(*) AS events_received,
       CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS malformed_text,
       CAST(SUM(CASE WHEN role IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS malformed_role,
       CAST(SUM(CASE WHEN tool IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS malformed_tool,
       CAST(SUM(CASE WHEN conv_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS malformed_host
FROM t
"""

_ORACLES["ignore_routing"] = f"""
WITH t AS ({T_DUCK}),
p AS (SELECT conv_id, turn_idx, COALESCE(text, '') AS text FROM t)
SELECT conv_id, turn_idx, text FROM p WHERE text LIKE '%{_IGNORE}%'
"""

_PIPE_M = f"""
WITH t AS ({T_DUCK}),
p AS (SELECT conv_id, turn_idx, role, COALESCE(text, '') AS text, tool, epoch
      FROM t),
kept AS (SELECT * FROM p WHERE text NOT LIKE '%{_IGNORE}%'),
m AS ({_MATCH_BLOCKS})
"""

_ORACLES["match_content_ip"] = _PIPE_M + """
SELECT conv_id, turn_idx, sid, ip_src, src_port, proto
FROM m WHERE sid = 6000001
"""

_ORACLES["match_pcre"] = _PIPE_M + """
SELECT conv_id, turn_idx, sid FROM m WHERE sid = 6000002
"""

_ORACLES["match_meta_user"] = _PIPE_M + """
SELECT conv_id, turn_idx FROM m WHERE sid = 6000003
"""

_ORACLES["match_program_gate"] = _PIPE_M + """
SELECT conv_id, turn_idx, ip_src, src_port FROM m WHERE sid = 6000009
"""

_ORACLES["extract_hash"] = _PIPE_M + """
SELECT conv_id, turn_idx, hash FROM m WHERE sid = 6000008
"""

_ORACLES["correlate_after"] = _PIPE_PRELUDE + """
SELECT conv_id, turn_idx, epoch, sup AS suppress_after FROM arec
"""

_ORACLES["correlate_threshold"] = _PIPE_PRELUDE + """
SELECT conv_id, turn_idx, epoch, sup AS suppress_thresh FROM trec
"""

_ORACLES["correlate_xbit"] = _PIPE_PRELUDE + f"""
SELECT conv_id, turn_idx, sid,
       CASE WHEN sid = 6000006 THEN TRUE
            ELSE (last_set IS NOT NULL AND epoch < last_set + {_S}) END
         AS xbit_pass
FROM xb
"""

_ORACLES["enrich_classtype"] = _PIPE_M + f"""
SELECT m.conv_id, m.turn_idx, m.sid, m.classtype, c.class_desc,
       CAST(c.class_pri AS INT) AS pri
FROM m JOIN (VALUES {_CLS_VALUES}) c(classtype, class_desc, class_pri)
  ON m.classtype = c.classtype
"""

_NORM_DUCK = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

_ORACLES["dedup_exact"] = f"""
WITH d AS (SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0),
k AS (SELECT doc_id, md5({_NORM_DUCK}) AS fp FROM d)
SELECT doc_id, MIN(doc_id) OVER (PARTITION BY fp) AS canonical_id,
       COUNT(*) OVER (PARTITION BY fp) AS group_sz
FROM k
"""

_ORACLES["ngram_jaccard"] = f"""
WITH d AS (SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0),
dd AS (SELECT doc_id, {_NORM_DUCK} AS norm FROM d WHERE doc_id % 1000000 < 100),
toks AS (SELECT doc_id, string_split(norm, ' ') AS tk FROM dd),
sh AS (SELECT DISTINCT doc_id, shingle
       FROM (SELECT doc_id,
                    UNNEST(list_transform(
                        generate_series(1, GREATEST(len(tk) - 2, 1)),
                        i -> array_to_string(tk[i:i+2], ' '))) AS shingle
             FROM toks)
       WHERE len(shingle) > 0),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
          FROM sh a JOIN sh b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT doc_a, doc_b,
       ROUND(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.8
"""

_ORACLES["text_fingerprint"] = f"""
SELECT doc_id, md5({_NORM_DUCK}) AS fp_md5 FROM documents
"""

_ORACLES["token_count"] = r"""
SELECT doc_id,
       CAST(len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')),
                             ' ')) AS INT) AS n_tokens_ws,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))
            AS INT) AS n_tokens_bpe
FROM documents
"""

_STOPS = "'the','a','of','and','to','in','is','it','for','on'"

_ORACLES["quality"] = rf"""
WITH q AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS tk,
         CAST(len(text) AS INT) AS n_chars,
         CAST(len(regexp_extract_all(text, '[^A-Za-z0-9_\s]')) AS INT)
           AS n_punct
  FROM documents),
q2 AS (
  SELECT doc_id, CAST(len(tk) AS INT) AS n_tokens, n_chars, n_punct,
         CAST(len(list_filter(tk, x -> lower(x) IN ({_STOPS}))) AS INT)
           AS n_stop
  FROM q)
SELECT doc_id, n_tokens, n_chars, n_punct, n_stop,
       CAST((CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 1 ELSE 0 END)
          + (CASE WHEN (n_chars - (n_tokens - 1)) / n_tokens >= 3
                   AND (n_chars - (n_tokens - 1)) / n_tokens <= 12
              THEN 1 ELSE 0 END)
          + (CASE WHEN n_punct * 5 <= n_chars THEN 1 ELSE 0 END)
          + (CASE WHEN n_stop * 20 >= n_tokens THEN 1 ELSE 0 END) AS INT)
         AS score_q
FROM q2
"""

_LANG_SETS = {
    "es": "'el','la','de','que','y'",
    "de": "'der','die','das','und','ist'",
    "fr": "'le','la','les','et','est'",
    "zh": "'de5','shi4','le5','zai4','he2'",
}

_ORACLES["lang_id"] = rf"""
WITH q AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                      ' ') AS tk
  FROM documents),
s AS (
  SELECT doc_id,
         len(list_filter(tk, x -> x IN ({_LANG_SETS['es']}))) AS s_es,
         len(list_filter(tk, x -> x IN ({_LANG_SETS['de']}))) AS s_de,
         len(list_filter(tk, x -> x IN ({_LANG_SETS['fr']}))) AS s_fr,
         len(list_filter(tk, x -> x IN ({_LANG_SETS['zh']}))) AS s_zh
  FROM q)
SELECT doc_id,
       CASE WHEN s_zh > GREATEST(0, s_es, s_de, s_fr) THEN 'zh'
            WHEN s_fr > GREATEST(0, s_es, s_de) THEN 'fr'
            WHEN s_de > GREATEST(0, s_es) THEN 'de'
            WHEN s_es > 0 THEN 'es'
            ELSE 'en' END AS lang_pred
FROM s
"""

_ORACLES["match_offset_window"] = _PIPE_M + """
SELECT conv_id, turn_idx, sid FROM m WHERE sid = 6000010
"""

_ORACLES["flow_targeting"] = _PIPE_M + """
SELECT conv_id, turn_idx, ip_src, src_port FROM m WHERE sid = 6000011
"""

_ORACLES["track_clients"] = f"""
WITH t AS ({T_DUCK})
SELECT conv_id, MAX(epoch) AS last_seen, COUNT(*) AS n_turns
FROM t GROUP BY conv_id
"""

_ORACLES["client_stats"] = f"""
WITH t AS ({T_DUCK}),
p AS (SELECT conv_id, epoch, COALESCE(text, '') AS text FROM t)
SELECT conv_id, COUNT(*) AS n_msgs, MIN(epoch) AS first_seen,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS bytes
FROM p GROUP BY conv_id
"""


def _minhash_oracle() -> str:
    from sagan_spark.functions.dedup import _A, _B, _H_MOD, _P
    mins = ", ".join(
        f"CAST(MIN((hv * {_A[i]} + {_B[i]}) % {_P}) AS BIGINT) AS m{i}"
        for i in range(4))
    return rf"""
WITH d AS (SELECT doc_id,
                  lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm
           FROM documents),
toks AS (SELECT doc_id, string_split(norm, ' ') AS tk FROM d),
sh AS (SELECT DISTINCT doc_id, shingle
       FROM (SELECT doc_id,
                    UNNEST(list_transform(
                        generate_series(1, GREATEST(len(tk) - 2, 1)),
                        i -> array_to_string(tk[i:i+2], ' '))) AS shingle
             FROM toks)
       WHERE len(shingle) > 0),
h AS (SELECT doc_id,
             CAST(CAST('0x' || substr(md5(shingle), 1, 8) AS UBIGINT)
                  % {_H_MOD} AS BIGINT) AS hv
      FROM sh)
SELECT doc_id, {mins} FROM h GROUP BY doc_id
"""


_ORACLES["minhash_sig"] = _minhash_oracle()


def _simhash_sql(source_sql: str) -> str:
    """Exact SimHash64 reconstruction over a (doc_id, text) source: the
    bit-vote basis is two md5-derived 32-bit halves (dedup.simhash), so
    DuckDB reproduces the identical signature bit-for-bit."""
    sums = ",\n       ".join(
        f"SUM(CASE WHEN (h{1 if b < 32 else 2} >> {b % 32}) & 1 = 1 "
        f"THEN w ELSE -w END) AS v{b}"
        for b in range(64))
    terms = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) "
        f"ELSE 0 END)" for b in range(63))
    top = ("(CASE WHEN v63 > 0 THEN CAST(-9223372036854775808 AS BIGINT) "
           "ELSE 0 END)")
    return rf"""
WITH src AS ({source_sql}),
d AS (SELECT doc_id,
             lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm
      FROM src),
tk AS (SELECT doc_id, UNNEST(string_split(norm, ' ')) AS tok FROM d),
tw AS (SELECT doc_id, tok, COUNT(*) AS w FROM tk WHERE len(tok) > 0
       GROUP BY 1, 2),
h AS (SELECT doc_id, w,
        CAST(CAST('0x' || substr(md5(tok), 1, 8) AS UBIGINT) AS BIGINT) AS h1,
        CAST(CAST('0x' || substr(md5(tok), 9, 8) AS UBIGINT) AS BIGINT) AS h2
      FROM tw),
v AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id),
sig AS (SELECT doc_id, {terms} + {top} AS simhash FROM v)
"""


_ORACLES["simhash64"] = (
    _simhash_sql("SELECT doc_id, text FROM documents") +
    "SELECT doc_id, simhash FROM sig")

_SIMHASH_PAIR_SRC = """SELECT doc_id, text FROM (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0)
WHERE doc_id % 1000000 < 400"""

_ORACLES["simhash_pairs"] = _simhash_sql(_SIMHASH_PAIR_SRC) + """
, blocks AS (
  SELECT doc_id, simhash, 0 AS blk, simhash & 65535 AS val FROM sig
  UNION ALL
  SELECT doc_id, simhash, 1, (simhash >> 16) & 65535 FROM sig
  UNION ALL
  SELECT doc_id, simhash, 2, (simhash >> 32) & 65535 FROM sig
  UNION ALL
  SELECT doc_id, simhash, 3, (simhash >> 48) & 65535 FROM sig),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sig_a, b.simhash AS sig_b
  FROM blocks a JOIN blocks b
    ON a.blk = b.blk AND a.val = b.val AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 3
"""

_ORACLES["perfmon"] = _PIPE_PRELUDE + """
, rb AS (SELECT CAST(FLOOR(epoch / 21600) * 21600 AS BIGINT) AS bucket,
                COUNT(*) AS events_received
         FROM p GROUP BY 1),
fb AS (SELECT CAST(FLOOR(epoch / 21600) * 21600 AS BIGINT) AS bucket,
              COUNT(*) FILTER (WHERE xpass) AS saganfound,
              COUNT(*) FILTER (WHERE xpass AND NOT sup_after
                               AND NOT sup_thresh) AS alert_total
       FROM emitted GROUP BY 1)
SELECT rb.bucket, rb.events_received,
       COALESCE(fb.saganfound, 0) AS saganfound,
       COALESCE(fb.alert_total, 0) AS alert_total
FROM rb LEFT JOIN fb ON rb.bucket = fb.bucket
"""

_ORACLES["ann_ivf"] = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
           FROM embeddings),
seeds AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT)
                 AS cell, emb AS c_emb
          FROM (SELECT * FROM v ORDER BY vec_id LIMIT 16)),
asn0 AS (SELECT v.vec_id AS neighbor_id, v.emb AS v_emb, s.cell,
       ROUND(list_dot_product(v.emb, s.c_emb) /
             (SQRT(list_dot_product(v.emb, v.emb)) *
              SQRT(list_dot_product(s.c_emb, s.c_emb))), 6) AS cosine
  FROM v CROSS JOIN seeds s),
assigned AS (SELECT neighbor_id, v_emb, cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY neighbor_id
        ORDER BY cosine DESC, cell) AS rn FROM asn0) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, emb AS q_emb FROM v WHERE vec_id < 5),
pr0 AS (SELECT q.query_id, q.q_emb, s.cell,
       ROUND(list_dot_product(q.q_emb, s.c_emb) /
             (SQRT(list_dot_product(q.q_emb, q.q_emb)) *
              SQRT(list_dot_product(s.c_emb, s.c_emb))), 6) AS cosine
  FROM q CROSS JOIN seeds s),
probes AS (SELECT query_id, q_emb, cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY cosine DESC, cell) AS rn FROM pr0) WHERE rn <= 4),
cand AS (SELECT p.query_id, p.q_emb, a.neighbor_id, a.v_emb
         FROM assigned a JOIN probes p ON a.cell = p.cell
         WHERE a.neighbor_id <> p.query_id),
scored AS (SELECT query_id, neighbor_id,
       ROUND(list_dot_product(q_emb, v_emb) /
             (SQRT(list_dot_product(q_emb, q_emb)) *
              SQRT(list_dot_product(v_emb, v_emb))), 6) AS cosine
  FROM cand),
r AS (SELECT *, CAST(ROW_NUMBER() OVER
        (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT)
        AS rank
      FROM scored)
SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 5
"""

_ORACLES["media_frames"] = f"""
WITH m AS (SELECT doc_id AS media_id,
                  CAST(1000 + (doc_id % 1000) * 10 AS INT) AS duration_ms,
                  CAST(text AS BLOB) AS b
           FROM documents WHERE doc_id % 3 = 2),
f AS (SELECT media_id,
             COALESCE(ROUND(list_avg(list_transform(
                 generate_series(1, octet_length(b)),
                 i -> CAST(('0x' || substr(hex(b), 2*i-1, 2)) AS INT)))
                 / 255.0, 6), 0.0) AS f0,
             duration_ms
      FROM m)
SELECT media_id, CAST(t AS INT) AS frame_ms,
       ROUND(f0 + t / 1000000.0, 6) AS frame_feature
FROM f, UNNEST(generate_series(0, duration_ms - 1, 500)) AS g(t)
"""

_ORACLES["dynamic_rules"] = f"""
WITH t AS ({T_DUCK}),
p AS (SELECT conv_id, turn_idx, COALESCE(text, '') AS text, epoch FROM t),
samp AS (SELECT * FROM p
         WHERE CAST(CAST('0x' || substr(md5(conv_id || '|' ||
               CAST(turn_idx AS VARCHAR)), 1, 8) AS UBIGINT) AS BIGINT)
               % 5 = 0),
trig AS (SELECT conv_id, turn_idx, epoch FROM samp
         WHERE text LIKE '%stage1 marker%'),
first_trig AS (SELECT conv_id, turn_idx FROM trig
               ORDER BY epoch, conv_id, turn_idx LIMIT 1)
SELECT conv_id, turn_idx, CAST(6300001 AS BIGINT) AS sid,
       'detect' AS kind
FROM first_trig
UNION ALL
SELECT conv_id, turn_idx, CAST(6300002 AS BIGINT), 'loaded'
FROM p WHERE text LIKE '%stage2 marker%'
        AND EXISTS (SELECT 1 FROM trig)
"""

_ORACLES["eve_log"] = f"""
WITH t AS ({T_DUCK}),
p AS (SELECT conv_id, turn_idx, COALESCE(text, '') AS text FROM t)
SELECT conv_id, turn_idx, 'log' AS event_type, text
FROM p WHERE text NOT LIKE '%{_IGNORE}%'
"""

_ORACLES["media_features"] = f"""
WITH m AS (SELECT doc_id AS media_id, {_MEDIA_KIND} AS kind,
                  CAST(text AS BLOB) AS b
           FROM documents)
SELECT media_id, kind,
       COALESCE(ROUND(list_avg(list_transform(
           generate_series(1, octet_length(b)),
           i -> CAST(('0x' || substr(hex(b), 2*i-1, 2)) AS INT)))
           / 255.0, 6), 0.0) AS f0
FROM m
"""


def _band_sql(dim: int = 64) -> str:
    """The vb rows (vec_id, band, bucket) of similarity._banded: the
    sin-based hyperplanes are generated by the SAME Python function as the
    Spark query and inlined as repr'd double literals, so bucket
    assignment is engine-identical."""
    from sagan_spark.functions.similarity import (BAND_BITS, N_BANDS,
                                                  _hyperplanes)
    planes = _hyperplanes(dim, N_BANDS * BAND_BITS)

    def arr(p):
        return "[" + ", ".join(repr(x) for x in p) + "]"

    def bucket_expr(b):
        # Spark folds bits MSB-first: bucket = ((b0*2+b1)*2+b2)*2+b3
        terms = []
        for i in range(BAND_BITS):
            bit = (f"(CASE WHEN list_dot_product(emb, "
                   f"{arr(planes[b * BAND_BITS + i])}) >= 0 "
                   f"THEN 1 ELSE 0 END)")
            terms.append(f"{bit} * {2 ** (BAND_BITS - 1 - i)}")
        return " + ".join(terms)

    return "\nUNION ALL\n".join(
        f"SELECT vec_id, {b} AS band, {bucket_expr(b)} AS bucket FROM v"
        for b in range(N_BANDS))


def _ann_lsh_oracle(dim: int = 64, k: int = 5) -> str:
    """Exact LSH-ANN reconstruction: the banding of ``_band_sql``, then
    the same candidate union and rerank."""
    band_sel = _band_sql(dim)
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
           FROM embeddings),
vb AS ({band_sel}),
qb AS (SELECT * FROM vb WHERE vec_id < 5),
cand AS (SELECT DISTINCT qb.vec_id AS query_id, vb.vec_id AS neighbor_id
         FROM qb JOIN vb ON qb.band = vb.band AND qb.bucket = vb.bucket
         WHERE vb.vec_id <> qb.vec_id),
scored AS (SELECT c.query_id, c.neighbor_id,
      ROUND(list_dot_product(q.emb, n.emb) /
            (SQRT(list_dot_product(q.emb, q.emb)) *
             SQRT(list_dot_product(n.emb, n.emb))), 6) AS cosine
  FROM cand c
  JOIN v q ON q.vec_id = c.query_id
  JOIN v n ON n.vec_id = c.neighbor_id),
r AS (SELECT *, CAST(ROW_NUMBER() OVER
        (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT)
        AS rank
      FROM scored)
SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= {k}
"""


_ORACLES["ann_lsh"] = _ann_lsh_oracle()


def _cosine_dup_oracle(dim: int = 64, threshold: float = 0.30) -> str:
    """Exact reconstruction of cosine_dup_pairs: the banding of
    ``_band_sql``; candidates = id pairs sharing a band bucket; verify on
    the 6-digit-rounded cosine (same rounding point as the Spark side, so
    the threshold cut is bit-identical)."""
    band_sel = _band_sql(dim)
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
           FROM embeddings),
vb AS ({band_sel}),
cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         FROM vb a JOIN vb b ON a.band = b.band AND a.bucket = b.bucket
         WHERE a.vec_id < b.vec_id),
scored AS (SELECT c.id_a, c.id_b,
      ROUND(list_dot_product(x.emb, y.emb) /
            (SQRT(list_dot_product(x.emb, x.emb)) *
             SQRT(list_dot_product(y.emb, y.emb))), 6) AS cosine
  FROM cand c
  JOIN v x ON x.vec_id = c.id_a
  JOIN v y ON y.vec_id = c.id_b)
SELECT id_a, id_b, cosine FROM scored WHERE cosine >= {threshold}
"""


_ORACLES["cosine_dup"] = _cosine_dup_oracle()

# flexbit pair: window MAX of the last set-event epoch re-derives the
# store's liveness (entries update expiry on every set; no unsets here)
_FLEX_M = f"""
WITH t AS ({T_DUCK}),
p AS (SELECT conv_id, turn_idx, COALESCE(text, '') AS text, epoch FROM t),
fm AS (
  SELECT conv_id, turn_idx, epoch, CAST(6100001 AS BIGINT) AS sid
  FROM p WHERE text LIKE '%stage1 marker%'
  UNION ALL
  SELECT conv_id, turn_idx, epoch, CAST(6100002 AS BIGINT)
  FROM p WHERE text LIKE '%stage2 marker%'
  UNION ALL
  SELECT conv_id, turn_idx, epoch, CAST(6100003 AS BIGINT)
  FROM p WHERE text LIKE '%probe attempt%'),
fx AS (SELECT *, MAX(CASE WHEN sid = 6100001 THEN epoch END) OVER
         (PARTITION BY conv_id ORDER BY epoch, turn_idx, sid
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_set
       FROM fm)
"""

_ORACLES["correlate_flexbit"] = _FLEX_M + f"""
SELECT conv_id, turn_idx, sid,
       CASE WHEN sid = 6100001 THEN TRUE
            ELSE (last_set IS NOT NULL AND epoch < last_set + {_S}) END
         AS flexbit_pass
FROM fx WHERE sid IN (6100001, 6100002)
"""

# count is expiry- and state-agnostic (flexbit-mmap.c:671-744 checks
# neither), so pass ⇔ ANY prior set-entry for the source exists — and the
# only prior entry creators for a conv are stage1 sets (a blocked F3 row
# cannot create its own probe_seen entry, engine.c:1467-1570 nesting)
_ORACLES["flexbit_count"] = _FLEX_M + """
SELECT conv_id, turn_idx, (last_set IS NOT NULL) AS flexbit_pass
FROM fx WHERE sid = 6100003
"""

# IP-keyed correlation prelude: the 'connection from 192.168.a.b:port'
# rows with their extracted source IP — the state key for every sid in
# rules-entry/ipkeys (engine order inside a key: epoch, conv_id, turn_idx)
_S_A7 = 604800      # ipkeys after window (7 days) — recurrence gaps ~3d
_C_A1 = 1           # ipkeys after count
_S_30 = 2592000     # ipkeys xbit expire / flexbit timeout (full span)
_IPM = f"""
t AS ({T_DUCK}),
p AS (SELECT conv_id, turn_idx, COALESCE(text, '') AS text, epoch FROM t),
im AS (SELECT conv_id, turn_idx, epoch,
              regexp_extract(text, 'from ({_IP4}):', 1) AS ip
       FROM p WHERE text LIKE '%connection from%')
"""

_ORACLES["correlate_after_ip"] = f"""
WITH RECURSIVE {_IPM},
aord AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY ip
           ORDER BY epoch, conv_id, turn_idx) AS rn FROM im),
arec AS (
  SELECT ip, conv_id, turn_idx, rn, epoch, 1 AS cnt, epoch AS utime,
         TRUE AS sup
  FROM aord WHERE rn = 1
  UNION ALL
  SELECT a.ip, a.conv_id, a.turn_idx, a.rn, a.epoch,
         CASE WHEN a.epoch - q.utime > {_S_A7} THEN 1 ELSE q.cnt + 1 END,
         CASE WHEN (CASE WHEN a.epoch - q.utime > {_S_A7} THEN 1
                         ELSE q.cnt + 1 END) > {_C_A1} THEN a.epoch
              WHEN a.epoch - q.utime > {_S_A7} THEN a.epoch
              ELSE q.utime END,
         ((CASE WHEN a.epoch - q.utime > {_S_A7} THEN 1
                ELSE q.cnt + 1 END) <= {_C_A1})
  FROM aord a JOIN arec q ON a.ip = q.ip AND a.rn = q.rn + 1)
SELECT conv_id, turn_idx, epoch, ip AS ip_src, sup AS suppress_after
FROM arec
"""

_ORACLES["correlate_threshold_ip"] = f"""
WITH RECURSIVE {_IPM},
tord AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY ip
           ORDER BY epoch, conv_id, turn_idx) AS rn FROM im),
trec AS (
  SELECT ip, conv_id, turn_idx, rn, epoch, 1 AS cnt, FALSE AS sup
  FROM tord WHERE rn = 1
  UNION ALL
  SELECT b.ip, b.conv_id, b.turn_idx, b.rn, b.epoch,
         CASE WHEN b.epoch - q.epoch > {_S} THEN 1 ELSE q.cnt + 1 END,
         ((CASE WHEN b.epoch - q.epoch > {_S} THEN 1
                ELSE q.cnt + 1 END) > {_C})
  FROM tord b JOIN trec q ON b.ip = q.ip AND b.rn = q.rn + 1)
SELECT conv_id, turn_idx, epoch, ip AS ip_src, sup AS suppress_thresh
FROM trec
"""

# dual-track after+threshold on ONE rule: the after fold runs per
# extracted src (recursive CTE, identical recurrence to correlate_after_ip
# with count 1 / 7d window); the threshold fold then runs per conv-fallback
# dst over ONLY the rows the after stage let through (engine.c:1528 —
# after-suppressed rows never reach the threshold counter), rolling anchor
# per threshold.c:131; rows suppressed by after re-join with
# suppress_thresh = FALSE
_ORACLES["correlate_dual_ip"] = f"""
WITH RECURSIVE {_IPM},
aord AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY ip
           ORDER BY epoch, conv_id, turn_idx) AS rn FROM im),
arec AS (
  SELECT ip, conv_id, turn_idx, rn, epoch, 1 AS cnt, epoch AS utime,
         TRUE AS sup
  FROM aord WHERE rn = 1
  UNION ALL
  SELECT a.ip, a.conv_id, a.turn_idx, a.rn, a.epoch,
         CASE WHEN a.epoch - q.utime > {_S_A7} THEN 1 ELSE q.cnt + 1 END,
         CASE WHEN (CASE WHEN a.epoch - q.utime > {_S_A7} THEN 1
                         ELSE q.cnt + 1 END) > 1 THEN a.epoch
              WHEN a.epoch - q.utime > {_S_A7} THEN a.epoch
              ELSE q.utime END,
         ((CASE WHEN a.epoch - q.utime > {_S_A7} THEN 1
                ELSE q.cnt + 1 END) <= 1)
  FROM aord a JOIN arec q ON a.ip = q.ip AND a.rn = q.rn + 1),
tord AS (SELECT conv_id, turn_idx, epoch, ROW_NUMBER() OVER (
           PARTITION BY conv_id ORDER BY epoch, conv_id, turn_idx) AS rn2
         FROM arec WHERE NOT sup),
trec AS (
  SELECT conv_id, turn_idx, rn2, epoch, 1 AS cnt, FALSE AS sup_t
  FROM tord WHERE rn2 = 1
  UNION ALL
  SELECT b.conv_id, b.turn_idx, b.rn2, b.epoch,
         CASE WHEN b.epoch - q.epoch > {_S_A7} THEN 1 ELSE q.cnt + 1 END,
         ((CASE WHEN b.epoch - q.epoch > {_S_A7} THEN 1
                ELSE q.cnt + 1 END) > 1)
  FROM tord b JOIN trec q ON b.conv_id = q.conv_id AND b.rn2 = q.rn2 + 1)
SELECT a.conv_id, a.turn_idx, a.epoch,
       a.sup AS suppress_after,
       COALESCE(t.sup_t, FALSE) AS suppress_thresh
FROM arec a
LEFT JOIN trec t ON a.conv_id = t.conv_id AND a.turn_idx = t.turn_idx
"""

# xbit track ip_pair: key = extracted src | conv dst; every im row is both
# the isset row (sid 6400003, lower rule_idx — evaluated first) and the
# set row (sid 6400004), so the last PRIOR im row of the same (ip, conv)
# pair is the latest set and liveness is epoch < last_set + expire
_ORACLES["correlate_xbit_pair"] = f"""
WITH {_IPM},
xb AS (SELECT conv_id, turn_idx, epoch,
         MAX(epoch) OVER (PARTITION BY ip, conv_id
           ORDER BY epoch, turn_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_set
       FROM im)
SELECT conv_id, turn_idx,
       (last_set IS NOT NULL AND epoch < last_set + {_S_30}) AS xbit_pass
FROM xb
"""

# flexbit isset by_src on extracted keys, EXACT-tally quirk: store entries
# are (name, src, dst=conv-of-the-set-row) tuples; the isset tallies one
# per LIVE matching entry and passes only when tally == 1 — a src set from
# two conversations (two live entries) FAILS (flexbit-mmap.c:116-318,637).
# Engine order: the same-row set (sid 6400006, higher rule_idx) happens
# AFTER the isset, so only strictly-prior rows (rnk) create entries.
_ORACLES["correlate_flexbit_ip"] = f"""
WITH {_IPM},
ord2 AS (SELECT *, ROW_NUMBER() OVER
           (ORDER BY epoch, conv_id, turn_idx) AS rnk FROM im),
pares AS (
  SELECT i.rnk, i.epoch AS ie, s.conv_id AS d, MAX(s.epoch) AS last_set
  FROM ord2 i JOIN ord2 s ON s.ip = i.ip AND s.rnk < i.rnk
  GROUP BY i.rnk, i.epoch, s.conv_id),
tal AS (
  SELECT rnk, COUNT(*) FILTER (WHERE ie < last_set + {_S_30}) AS tally
  FROM pares GROUP BY rnk)
SELECT o.conv_id, o.turn_idx, COALESCE(t.tally, 0) = 1 AS flexbit_pass
FROM ord2 o LEFT JOIN tal t ON t.rnk = o.rnk
"""

# liblognorm rulebase extraction: N1 normalizes src-ip from the
# invalid-login template (whole-message sample), N2 the username; the
# conv fallback fills unextracted addressing (engine.c:967-1045)
_ORACLES["normalize_liblognorm"] = f"""
WITH t AS ({T_DUCK}),
p AS (SELECT conv_id, turn_idx, COALESCE(text, '') AS text FROM t)
SELECT conv_id, turn_idx, CAST(6500001 AS BIGINT) AS sid,
       regexp_extract(text, 'from ({_IP4})', 1) AS ip_src,
       '' AS username
FROM p WHERE text LIKE '%Invalid login from%'
UNION ALL
SELECT conv_id, turn_idx, CAST(6500002 AS BIGINT), conv_id,
       regexp_extract(text, 'user (\\S+) login failed', 1)
FROM p WHERE text LIKE '%login failed%'
"""

# blacklist CIDRs in rules-entry/gates/blacklist.txt: 192.168.9.0/24 and
# 192.168.57.0/24 — membership reduces to the third octet on this corpus
_ORACLES["blacklist_gate"] = f"""
WITH {_IPM}
SELECT conv_id, turn_idx, ip AS ip_src FROM im
WHERE CAST(string_split(ip, '.')[3] AS INT) IN (9, 57)
"""

_INTEL_IPS = "'12.8.1.9', '12.16.2.17', '12.64.9.65', '12.128.18.129'"

_ORACLES["intel_gate"] = f"""
WITH t AS ({T_DUCK}),
p AS (SELECT conv_id, turn_idx, COALESCE(text, '') AS text FROM t)
SELECT conv_id, turn_idx, CAST(6200001 AS BIGINT) AS sid,
       regexp_extract(text, 'from ({_IP4})', 1) AS ip_src
FROM p WHERE text LIKE '%Invalid login from%'
        AND regexp_extract(text, 'from ({_IP4})', 1) IN ({_INTEL_IPS})
UNION ALL
SELECT conv_id, turn_idx, CAST(6200003 AS BIGINT), conv_id
FROM p WHERE text LIKE '%marker%' AND lower(text) LIKE '%cmd=alpha%'
"""

_ORACLES["match_facility_quirk"] = f"""
WITH t AS ({T_DUCK})
SELECT conv_id, turn_idx, role FROM t
WHERE COALESCE(text, '') LIKE '%from%'
  AND role = 'assistant'   -- program glob ignored: last gate wins
"""

_ORACLES["match_level_gate"] = f"""
WITH t AS ({T_DUCK})
SELECT conv_id, turn_idx, role FROM t
WHERE COALESCE(text, '') LIKE '%from%' AND role = 'user'
"""

_ORACLES["match_negation"] = f"""
WITH t AS ({T_DUCK})
SELECT conv_id, turn_idx, text FROM t
WHERE COALESCE(text, '') LIKE '%probe attempt%'
  AND COALESCE(text, '') NOT LIKE '%seq=3%'
"""

_ORACLES["geoip_gate"] = f"""
WITH t AS ({T_DUCK}),
p AS (SELECT conv_id, turn_idx, COALESCE(text, '') AS text FROM t),
e AS (SELECT conv_id, turn_idx,
             regexp_extract(text, 'from ({_IP4})', 1) AS ip_src
      FROM p WHERE text LIKE '%Invalid login from%')
SELECT conv_id, turn_idx, ip_src FROM e
WHERE CAST(string_split(ip_src, '.')[2] AS INT) >= 128
"""

_ORACLES["parse_json_map"] = f"""
WITH j AS ({_J_TEMPLATE}),
v AS (SELECT *, (CASE WHEN json_valid(text) THEN 0 ELSE 1 END) AS bad
      FROM j)
SELECT conv_id, turn_idx, bad AS malformed_json,
  CASE WHEN bad = 1 THEN 'UNDEFINED'
       ELSE COALESCE(json_extract_string(text, '$.src'), 'UNDEFINED') END
    AS host,
  CASE WHEN bad = 1 THEN 'UNDEFINED'
       ELSE COALESCE(json_extract_string(text, '$.prog'), 'UNDEFINED') END
    AS program,
  CASE WHEN bad = 1 THEN 'UNDEFINED'
       WHEN json_extract_string(text, '$.msg') IS NULL THEN 'UNDEFINED'
       ELSE ' ' || json_extract_string(text, '$.msg') END
    AS message
FROM v
"""

_ORACLES["embedded_json"] = f"""
WITH j AS ({_EJ_TEMPLATE}),
d AS (SELECT conv_id, turn_idx, program, message,
        ((substr(program, 1, 1) = '{{') OR (substr(program, 2, 1) = '{{') OR
         (substr(message, 2, 1) = '{{') OR (substr(message, 3, 1) = '{{'))
          AS det,
        CASE WHEN substr(program, 1, 1) = '{{' OR substr(program, 2, 1) = '{{'
             THEN program || message ELSE message END AS merged
      FROM j),
pl AS (SELECT conv_id, turn_idx,
         substr(merged, strpos(merged, '{{')) AS payload,
         det AND strpos(merged, '{{') > 0 AS maybe
       FROM d),
sc AS (SELECT conv_id, turn_idx, payload,
         maybe AND json_valid(payload) AS ok,
         CASE WHEN maybe AND json_valid(payload) THEN
             (CASE WHEN json_extract_string(payload, '$.msg') IS NOT NULL
                   THEN 1 ELSE 0 END)
           + (CASE WHEN json_extract_string(payload, '$.src_ip') IS NOT NULL
                   THEN 1 ELSE 0 END)
           + (CASE WHEN json_extract_string(payload, '$.dst_ip') IS NOT NULL
                   THEN 1 ELSE 0 END)
           + (CASE WHEN json_extract_string(payload, '$.sport') IS NOT NULL
                   THEN 1 ELSE 0 END)
           + (CASE WHEN json_extract_string(payload, '$.dport') IS NOT NULL
                   THEN 1 ELSE 0 END)
           + (CASE WHEN json_extract_string(payload, '$.md5') IS NOT NULL
                   THEN 1 ELSE 0 END)
           + (CASE WHEN json_extract_string(payload, '$.user') IS NOT NULL
                   THEN 1 ELSE 0 END)
           ELSE 0 END AS s1,
         CASE WHEN maybe AND json_valid(payload) THEN
             (CASE WHEN json_extract_string(payload, '$.log') IS NOT NULL
                   THEN 1 ELSE 0 END)
           + (CASE WHEN json_extract_string(payload, '$.client_ip')
                   IS NOT NULL THEN 1 ELSE 0 END)
           + (CASE WHEN json_extract_string(payload, '$.acct') IS NOT NULL
                   THEN 1 ELSE 0 END)
           ELSE 0 END AS s2
       FROM pl),
w AS (SELECT *, CASE WHEN s1 >= s2 AND s1 > 0 THEN 1
                     WHEN s2 > 0 THEN 2 ELSE 0 END AS win
      FROM sc)
SELECT conv_id, turn_idx,
  CASE WHEN win = 1 THEN COALESCE(json_extract_string(payload, '$.msg'), '')
       WHEN win = 2 THEN COALESCE(json_extract_string(payload, '$.log'), '')
       ELSE '' END AS json_message,
  CASE WHEN win = 1 THEN
         COALESCE(json_extract_string(payload, '$.src_ip'), '')
       WHEN win = 2 THEN
         COALESCE(json_extract_string(payload, '$.client_ip'), '')
       ELSE '' END AS json_src_ip,
  CASE WHEN win = 1 THEN COALESCE(json_extract_string(payload, '$.md5'), '')
       ELSE '' END AS json_md5,
  CASE WHEN win = 1 THEN COALESCE(json_extract_string(payload, '$.user'), '')
       WHEN win = 2 THEN COALESCE(json_extract_string(payload, '$.acct'), '')
       ELSE '' END AS json_username
FROM w
"""

_E1_REFS = ("http://cve.mitre.org/cgi-bin/cvename.cgi?name=2024-1111,"
            "http://example.com/e1")

_ORACLES["enrich_references"] = _PIPE_PRELUDE + f"""
SELECT e.conv_id, e.turn_idx, e.sid,
       CASE WHEN e.sid = 6000001 THEN '{_E1_REFS}' ELSE '' END AS ref_urls,
       CASE WHEN e.sid = 6000001 THEN 'sagan invalid-login engine'
            WHEN e.sid = 6000004 THEN 'sagan brute-force engine'
            ELSE '' END AS gen_msg
FROM emitted e
WHERE e.sid IN (6000001, 6000004)
  AND NOT e.sup_after AND NOT e.sup_thresh AND e.xpass
"""

_ORACLES["fast_sink"] = _PIPE_PRELUDE + """
, fj AS (
  SELECT e.*, c.class_pri, t2.ts
  FROM emitted e
  JOIN cls c ON e.classtype = c.classtype
  JOIN t t2 ON e.conv_id = t2.conv_id AND e.turn_idx = t2.turn_idx
  WHERE NOT e.sup_after AND NOT e.sup_thresh AND e.xpass)
SELECT fj.conv_id, fj.turn_idx,
  strftime(fj.ts, '%m/%d/%Y-%H:%M:%S.%f')
  || ' [**] [5000001:' || CAST(fj.sid AS VARCHAR) || ':'
  || CAST(fj.rev AS VARCHAR) || '] ' || fj.msg
  || ' [**] [Classification: ' || fj.classtype
  || '] [Priority: ' || CAST(fj.class_pri AS VARCHAR)
  || '] [Program: ' || t4.tool || '] {UDP} '
  || fj.ip_src || ':' || CAST(fj.src_port AS VARCHAR) || ' -> '
  || fj.ip_dst || ':' || CAST(fj.dst_port AS VARCHAR) AS fast_line
FROM fj JOIN t t4 ON fj.conv_id = t4.conv_id AND fj.turn_idx = t4.turn_idx
"""

_CLS_IDS = ", ".join(
    f"('{k}', {i + 1})" for i, k in enumerate((
        "not-suspicious", "unsuccessful-user", "attempted-recon",
        "attempted-admin", "brute-force", "suspicious-login",
        "suspicious-command", "suspicious-filename-detect",
        "hardware-event", "misc-attack")))

_ORACLES["unified2_table"] = _PIPE_PRELUDE + f"""
, u AS (
  SELECT e.*, c.class_pri, t2.ts
  FROM emitted e
  JOIN cls c ON e.classtype = c.classtype
  JOIN t t2 ON e.conv_id = t2.conv_id AND e.turn_idx = t2.turn_idx
  WHERE NOT e.sup_after AND NOT e.sup_thresh AND e.xpass)
SELECT u.conv_id, u.turn_idx,
       0 AS sensor_id,
       u.epoch AS event_second,
       CAST(epoch_us(u.ts) % 1000000 AS INT) AS event_microsecond,
       CAST(5000001 AS BIGINT) AS generator_id,
       u.sid AS signature_id,
       u.rev AS signature_revision,
       CAST(ci.cid AS INT) AS classification_id,
       CAST(u.class_pri AS INT) AS priority_id,
       u.ip_src AS ip_source,
       u.ip_dst AS ip_destination,
       u.src_port AS sport_itype,
       u.dst_port AS dport_icode,
       17 AS protocol,
       0 AS blocked
FROM u JOIN (VALUES {_CLS_IDS}) ci(classtype, cid)
  ON u.classtype = ci.classtype
"""

_ORACLES["track_transitions"] = f"""
WITH t AS ({T_DUCK}),
g AS (SELECT conv_id, epoch,
             LAG(epoch) OVER (PARTITION BY conv_id
                              ORDER BY epoch, turn_idx) AS prev_epoch
      FROM t),
h AS (SELECT MAX(epoch) AS horizon FROM t)
SELECT conv_id, prev_epoch AS down_epoch, epoch AS up_epoch
FROM g WHERE prev_epoch IS NOT NULL AND epoch - prev_epoch > {_TRACK_TIMEOUT}
UNION ALL
SELECT conv_id, MAX(epoch), CAST(NULL AS BIGINT)
FROM t GROUP BY conv_id
HAVING (SELECT horizon FROM h) - MAX(epoch) > {_TRACK_TIMEOUT}
"""

_ORACLES["minhash_lsh"] = f"""
WITH d AS (SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0),
dd AS (SELECT doc_id, {_NORM_DUCK} AS norm FROM d WHERE doc_id % 1000000 < 400),
toks AS (SELECT doc_id, string_split(norm, ' ') AS tk FROM dd),
sh AS (SELECT DISTINCT doc_id, shingle
       FROM (SELECT doc_id,
                    UNNEST(list_transform(
                        generate_series(1, GREATEST(len(tk) - 2, 1)),
                        i -> array_to_string(tk[i:i+2], ' '))) AS shingle
             FROM toks)
       WHERE len(shingle) > 0),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
          FROM sh a JOIN sh b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT doc_a, doc_b,
       ROUND(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.8
"""

# EVE JSON render parity (json-handler.c:113-216 field list): the exact
# to_json string is rebuilt in DuckDB — same key order (struct order),
# same compact separators, same millisecond timestamp + '+0000' offset,
# same base64 payload, same md5-derived flow_id.
_ORACLES["eve_render"] = _PIPE_PRELUDE + """
, ej AS (
  SELECT e.conv_id, e.turn_idx, t2.ts, e.sid, e.rev, e.action, e.msg,
         e.classtype, c.class_pri, e.ip_src, e.src_port, e.ip_dst,
         e.dst_port, e.proto, e.text
  FROM emitted e
  JOIN cls c ON e.classtype = c.classtype
  JOIN t t2 ON e.conv_id = t2.conv_id AND e.turn_idx = t2.turn_idx
  WHERE NOT e.sup_after AND NOT e.sup_thresh AND e.xpass)
SELECT conv_id, turn_idx,
  CAST(json_object(
    'timestamp', strftime(ts, '%Y-%m-%dT%H:%M:%S.%g+0000'),
    'flow_id', CAST(CAST('0x' || substr(md5(conv_id || '|' ||
                    CAST(turn_idx AS VARCHAR)), 1, 15) AS UBIGINT)
                    AS BIGINT),
    'event_type', 'alert',
    'src_ip', ip_src,
    'src_port', src_port,
    'dest_ip', ip_dst,
    'dest_port', dst_port,
    'proto', proto,
    'payload', to_base64(CAST(text AS BLOB)),
    'alert', json_object(
        'action', action, 'gid', 5000001, 'signature_id', sid,
        'rev', rev, 'signature', msg, 'category', classtype,
        'severity', CAST(class_pri AS INT))
  ) AS VARCHAR) AS eve
FROM ej
"""

_ORACLES["media_metadata"] = f"""
SELECT doc_id AS media_id, {_MEDIA_KIND} AS kind,
       'application/x-fake' AS mime,
       CAST(32 + doc_id % 8 AS INT) AS width,
       CAST(24 + doc_id % 6 AS INT) AS height,
       CAST(1000 + (doc_id % 1000) * 10 AS INT) AS duration_ms,
       CAST(octet_length(CAST(text AS BLOB)) AS INT) AS n_bytes
FROM documents
"""

_ORACLES["knn_brute"] = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
           FROM embeddings),
q AS (SELECT vec_id AS query_id, emb AS q_emb FROM v WHERE vec_id < 5),
pairs AS (
  SELECT q.query_id, v.vec_id AS neighbor_id,
         ROUND(list_dot_product(q.q_emb, v.emb)
               / (SQRT(list_dot_product(q.q_emb, q.q_emb))
                  * SQRT(list_dot_product(v.emb, v.emb))), 6) AS cosine
  FROM q CROSS JOIN v WHERE v.vec_id <> q.query_id),
r AS (SELECT *, CAST(ROW_NUMBER() OVER
        (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT)
        AS rank
      FROM pairs)
SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------

# the hard correctness gate records only the first GATE_WINDOW
# queries() entries
GATE_WINDOW = 50


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _q_pipeline_alerts(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registration ORDER is load-bearing: the driver's hard gate records
    the first GATE_WINDOW entries only (CORRECTNESS_r03 proved it), so the
    newest / least-proven queries must sit inside that window.  The tail
    set ALTERNATES between rounds (the round-4 verdict's item 5) so the
    union of any two consecutive gates covers every registered query: the
    round-4 tail (text_fingerprint … simhash64) is back inside this
    window, and 7 queries gated green in r04 (and every earlier round
    they were registered) rotate out.  The tail additionally has an
    ENFORCED check every pytest run — tests/test_oracle_tail.py runs the
    full tail through the same Spark-vs-DuckDB oracle compare."""
    return {
        "pipeline_alerts": _q_pipeline_alerts,
        "sink_counts": _q_sink_counts,
        "parse_sentinels": _q_parse_sentinels,
        "ignore_routing": _q_ignore_routing,
        "match_content_ip": _q_match_content_ip,
        "match_pcre": _q_match_pcre,
        # round-4 tail, rotated back inside the gate window
        "text_fingerprint": _q_text_fingerprint,
        "token_count": _q_token_count,
        "quality": _q_quality,
        "lang_id": _q_lang_id,
        "client_stats": _q_client_stats,
        "media_metadata": _q_media_metadata,
        "simhash64": _q_simhash64,
        "correlate_after": _q_correlate_after,
        "correlate_threshold": _q_correlate_threshold,
        "correlate_xbit": _q_correlate_xbit,
        # round-3: IP-keyed correlation (store keys) + gates —
        # inside the 50-query gate window per the round-3 verdict
        "correlate_after_ip": _q_correlate_after_ip,
        "correlate_threshold_ip": _q_correlate_threshold_ip,
        "correlate_xbit_pair": _q_correlate_xbit_pair,
        "correlate_flexbit_ip": _q_correlate_flexbit_ip,
        # round-5: after+threshold with DIFFERENT tracks on one rule (one
        # serial state group per cluster, batch and streaming)
        "correlate_dual_ip": _q_correlate_dual_ip,
        "blacklist_gate": _q_blacklist_gate,
        "match_facility_quirk": _q_match_facility_quirk,
        "match_level_gate": _q_match_level_gate,
        "match_negation": _q_match_negation,
        "normalize_liblognorm": _q_normalize_liblognorm,
        "enrich_classtype": _q_enrich_classtype,
        "dedup_exact": _q_dedup_exact,
        "ngram_jaccard": _q_ngram_jaccard,
        "knn_brute": _q_knn_brute,
        "flow_targeting": _q_flow_targeting,
        "track_clients": _q_track_clients,
        "minhash_sig": _q_minhash_sig,
        "ann_lsh": _q_ann_lsh,
        "cosine_dup": _q_cosine_dup,
        "media_features": _q_media_features,
        "eve_render": _q_eve_render,
        # round-2 operator surface
        "correlate_flexbit": _q_correlate_flexbit,
        "flexbit_count": _q_flexbit_count,
        "enrich_references": _q_enrich_references,
        "fast_sink": _q_fast_sink,
        "unified2_table": _q_unified2_table,
        "track_transitions": _q_track_transitions,
        "minhash_lsh": _q_minhash_lsh,
        "eve_log": _q_eve_log,
        "simhash_pairs": _q_simhash_pairs,
        "dynamic_rules": _q_dynamic_rules,
        "media_frames": _q_media_frames,
        "ann_ivf": _q_ann_ivf,
        "perfmon": _q_perfmon,
        # ---- tail (past GATE_WINDOW): queries gated green in r04
        # (and every earlier round they were registered), UNTOUCHED by
        # round-5 changes, and still enforced per pytest run by
        # tests/test_oracle_tail.py ----
        "match_meta_user": _q_match_meta_user,
        "match_program_gate": _q_match_program_gate,
        "extract_hash": _q_extract_hash,
        "match_offset_window": _q_match_offset_window,
        "parse_json_map": _q_parse_json_map,
        "embedded_json": _q_embedded_json,
        "intel_gate": _q_intel_gate,
        "geoip_gate": _q_geoip_gate,
    }


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)
