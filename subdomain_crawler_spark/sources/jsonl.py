"""JSONL result export with the reference's external schema.

The reference writes one JSON object per line via ``json.Encoder``
(/root/reference/pkg/infrastructure/storage/writer.go:33-38) with the
``CrawlResult`` field set (entity/domain.go:20-30):

    domain, ips, subdomains, status, status_code, title, content_length,
    error (OMITTED when empty — ``json:"error,omitempty"``), timestamp

Artifact pins (reference result.jsonl): line 1 carries no ``error`` key on a
success; line 2 shows the raw status-line passthrough ``"status":"200 "``.

Differences, documented:

* the reference's line order is completion order (racy goroutines); the
  canonical export order here is ``(round, domain)`` — the only
  cross-implementation-stable order (SURVEY.md §3.4);
* offline builds have no real fetch times, so ``timestamp`` is synthesized
  deterministically as ``epoch + round`` seconds (RFC3339, UTC) — callers on
  a real cluster pass ``epoch=None`` to stamp the export wall-clock time.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.crawl import _status_expr

# reference field order (entity/domain.go:21-29); Spark's JSON writer emits
# keys in column order and drops nulls (ignoreNullFields default true) —
# which reproduces Go's omitempty exactly
_FIELDS = ["domain", "ips", "subdomains", "status", "status_code", "title",
           "content_length", "error", "timestamp"]

_RFC3339 = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"


def results_to_jsonl_df(results: DataFrame, epoch: float | None = None) -> DataFrame:
    """Project the engine's results table into the reference JSONL schema."""
    if epoch is None:
        epoch = time.time()
    ts = F.timestamp_seconds(F.lit(float(epoch)) + F.col("round"))
    return results.select(
        "domain", "ips", "subdomains", "status", "status_code", "title",
        "content_length",
        # null error → key omitted (Go omitempty twin)
        F.when(F.col("error").isNotNull() & (F.col("error") != ""),
               F.col("error")).alias("error"),
        F.date_format(ts, _RFC3339).alias("timestamp"),
        "round",
    )


_UA = "SubdomainCrawler/2.0"  # reference default (cli/config.go:30)


def _write_single(df, path: str, keep_nulls: bool = False) -> None:
    tmp = tempfile.mkdtemp(prefix="jsonl_export_")
    try:
        w = df.coalesce(1).write.mode("overwrite")
        if keep_nulls:  # Go encodes nil pointers as explicit null
            w = w.option("ignoreNullFields", "false")
        w.json(tmp)
        part = sorted(glob.glob(os.path.join(tmp, "part-*")))
        os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
        if part:
            shutil.move(part[0], path)
        else:  # zero-row result set still produces a valid (empty) file
            open(path, "w").close()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def export_http_jsonl(http_log: DataFrame, path: str,
                      corpus: DataFrame | None = None,
                      user_agent: str = _UA) -> None:
    """S3 — full ``HTTPMessage`` transcript (entity/log.go:4-27): one JSONL
    line per attempt, ``{"request": {...}, "response": null|{...}}`` with
    the reference's field order, UA header map, and explicit null response
    on failed attempts (artifact http.jsonl line 1).

    The engine's internal http_log is flat (round, host, proto,
    status_code, error) — transcript detail the offline corpus model never
    had (HTTP version, headers, body) is synthesized deterministically:
    proto 'HTTP/1.1', the UA request header, and — when ``corpus`` is given —
    the caption as the response body (the corpus IS the web here).  The
    request url is DERIVED (proto + "://" + host): the engine stopped
    persisting the redundant column — at 10^7+ attempt rows it doubled the
    host bytes in the round's biggest log write."""
    h = http_log
    if "url" not in h.columns:
        h = h.withColumn("url", F.concat("proto", F.lit("://"), "host"))
    if corpus is not None:
        body_src = corpus.select("host", F.col("caption").alias("_body"))
        h = h.join(body_src, "host", "left")
    else:
        h = h.withColumn("_body", F.lit(None).cast("string"))
    responded = F.col("status_code").isNotNull()
    request = F.struct(
        F.lit("GET").alias("method"),
        F.col("url").alias("url"),
        F.lit("HTTP/1.1").alias("proto"),
        F.create_map(F.lit("User-Agent"), F.lit(user_agent)).alias("header"),
        F.lit("").alias("body"),
        F.lit(0).cast("long").alias("content_length"),
    )
    body = F.coalesce(F.col("_body"), F.lit(""))
    # response header map: the reference logs the server's real headers
    # (entity/log.go:24; artifact http.jsonl carries Content-Type etc.) —
    # the offline corpus has none, so synthesize the two every HTML response
    # carries, deterministically from the body. Go's json.Marshal sorts map
    # keys, so Content-Length < Content-Type matches the reference ordering.
    resp_header = F.create_map(
        F.lit("Content-Length"), F.length(body).cast("string"),
        F.lit("Content-Type"), F.lit("text/html; charset=utf-8"))
    response = F.when(responded, F.struct(
        F.lit("HTTP/1.1").alias("proto"),
        F.col("status_code").alias("status_code"),
        _status_expr(F.col("status_code")).alias("status"),
        resp_header.alias("header"),
        body.alias("body"),
        F.length(body).cast("long").alias("content_length"),
    ))
    out = (h.select("round", "host", "proto",
                    request.alias("request"), response.alias("response"))
            .orderBy("round", "host", "proto")
            .select("request", "response"))
    _write_single(out, path, keep_nulls=True)


def export_dns_jsonl(dns_log: DataFrame, path: str) -> None:
    """S4 — full ``DNSMessage`` transcript (entity/log.go:30-65): question /
    answer RR structs, failover server, rcode; ``response`` null + error set
    only on total resolver failure (rcode=-1 sentinel, resolver.go:84-97).

    Synthesized deterministically from the flat (round, host, ips, rcode)
    table: id = xxhash64(host) mod 2^16, qtype A/IN, fixed TTL 300, rtt 0
    (artifact dns.jsonl line 1 also shows rtt 0).

    Failover fidelity: the reference tries its 4 default servers in fixed
    order — 8.8.8.8, 8.8.4.4, 1.1.1.1, 1.0.0.1 (resolver.go:29-34,69-81) —
    and logs the FIRST server that answered. The offline dns table has no
    per-server model (a host either resolves or nothing answers), so every
    answered row deterministically reports the first server, ``8.8.8.8:53``,
    and total failure reports ``""`` — exactly what the reference logs when
    server 1 is healthy. Documented divergence: per-host failover depth is
    not modeled (FIXTURES.md)."""
    responded = F.col("rcode") >= 0
    qname = F.concat(F.col("host"), F.lit("."))
    question = F.array(F.struct(
        qname.alias("name"), F.lit("A").alias("qtype"),
        F.lit("IN").alias("qclass")))
    rr = lambda ip: F.struct(
        qname.alias("name"), F.lit("A").alias("type"), F.lit("IN").alias("class"),
        F.lit(300).cast("long").alias("ttl"), ip.alias("data"))
    reqid = F.pmod(F.xxhash64("host"), F.lit(65536))
    detail = lambda is_resp, answer: F.struct(
        reqid.alias("id"), F.lit(is_resp).alias("response"),
        F.lit(0).alias("opcode"),
        (F.col("rcode") if is_resp else F.lit(0)).alias("rcode"),
        question.alias("question"), answer.alias("answer"),
        F.array().cast("array<struct<name:string,type:string,class:string,ttl:bigint,data:string>>").alias("authority"),
        F.array().cast("array<struct<name:string,type:string,class:string,ttl:bigint,data:string>>").alias("extra"),
    )
    empty_rrs = F.array().cast(
        "array<struct<name:string,type:string,class:string,ttl:bigint,data:string>>")
    answers = F.transform(F.col("ips"), lambda ip: rr(ip))
    out = (dns_log.select(
        "round",
        F.col("host").alias("domain"),
        F.when(responded, F.lit("8.8.8.8:53")).otherwise(F.lit("")).alias("server"),
        detail(False, empty_rrs).alias("request"),
        F.when(responded, detail(True, answers)).alias("response"),
        F.lit(0).cast("long").alias("rtt"),
        F.when(responded, F.lit(""))
         .otherwise(F.lit("no response from any DNS server")).alias("error"))
        .orderBy("round", "domain")
        .select("domain", "server", "request", "response", "rtt", "error"))
    _write_single(out, path, keep_nulls=True)


def export_results_jsonl(results: DataFrame, path: str,
                         epoch: float | None = None,
                         single_file: bool = True) -> None:
    """Write the results table as reference-schema JSONL.

    ``single_file=True`` mirrors the reference's one-file contract (sorted by
    the canonical (round, domain) order, coalesced, part-file renamed into
    place) — fine for crawl outputs, which are tiny relative to the corpus.
    ``single_file=False`` keeps a distributed .json directory for at-scale
    exports.
    """
    df = results_to_jsonl_df(results, epoch)
    out = df.orderBy("round", "domain").drop("round")
    if not single_file:
        out.write.mode("overwrite").json(path)
        return
    _write_single(out, path)
