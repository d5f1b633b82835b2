"""ideacrawler_spark — a PySpark-native URL-frontier + fetch-scheduler engine.

A from-scratch reimplementation of the *semantics* of shsms/ideacrawler
(reference at /root/reference, Go) on top of the Spark DataFrame API:

- the simulated web is a Common-Crawl-style ``pages`` table
  (url, warc_ts, html, text, lang, status, content_type); "fetching" a URL
  is an equi-join of the frontier against that table (ref: doRequest,
  fetch.go:491-543 becomes a join);
- the URL-seen set is an exact ``seen`` table, anti-joined every round,
  plus sharded Bloom-filter shards of it kept with each checkpointed
  round (ref: job.duplicates map, job.go:43);
- politeness (crawl delay, robots.txt, max-concurrent) is a deterministic
  per-round admission budget realized with window functions
  (ref: fetchbot per-host workers, fetch.go:269-454);
- crawl ordering is the deterministic linearization (round, depth,
  discovery_seq) of the reference's BFS-by-depth / per-host-FIFO order.

Nothing in this package is a translation of the Go execution engine; the
goroutine/channel machinery maps onto Spark's own scheduler + shuffle.
"""

__version__ = "0.1.0"

from ideacrawler_spark.config import JobSpec  # noqa: F401
