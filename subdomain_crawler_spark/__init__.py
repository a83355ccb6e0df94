"""subdomain_crawler_spark — a PySpark-native subdomain-discovery frontier.

A from-scratch rebuild of the query/data-processing capabilities of the Go
reference WangYihang/Subdomain-Crawler (studied read-only at
``/root/reference``), re-expressed as iterative DataFrame rounds over
snapshot-committed parquet tables:

* per-row logic (hostname extraction, PSL roots, image validation) runs in
  vectorized pandas/Arrow UDFs — no per-row Python;
* the global URL-seen set is an exact ``left_anti`` join against the
  cumulative seen table (the reference's bloom filter,
  pkg/infrastructure/storage/bloom_filter.go, drops ~1% of new hosts);
* scheduling is synchronized BFS rounds over the frontier table; with a
  robots table, a per-root politeness budget (a top-K over a salted then
  an exact per-root window) defers each root's excess rows to the next
  round (north-rule addition; the reference uses a FIFO channel,
  pkg/infrastructure/storage/queue.go);
* checkpoint/resume is per-round atomic table snapshots (reference: periodic
  bloom dump, pkg/application/crawl_usecase.go:192-208).

Layout:
    functions/  pure-python vectorized kernels + pandas_udf wrappers
    operators/  politeness / redirect chains / seen-set bloom bank /
                connected components / payload validation
    sources/    table IO seam (parquet+manifest snapshots), fixtures, JSONL
    plans/      the rounds-loop crawl engine
    streaming/  watermarked event-time rates (the crawl itself is
                iterative batch: seeds enter only through CrawlEngine.start)
"""

__version__ = "0.1.0"
