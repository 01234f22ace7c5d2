"""S11: remote text fetch as a distributed source (SURVEY.md §2.1).

Reference behavior: the notebook (cell 2) and ``ssm_loop.py:26`` pull
small text resources (atlas label lookups) from URLs with pandas/
urllib on one machine. Engine mapping: a URI *table* fanned out over
executors via Arrow-batched ``map_rows`` — at cluster scale the
fetch of thousands of per-subject sidecars runs where the partitions
are, with per-row error capture instead of a driver-side loop that
dies on the first 404.

The fetcher is REAL (stdlib ``urllib``): ``file://`` URIs exercise the
full code path hermetically (tests + oracle), and ``http(s)://`` runs
the same branch — network-gated in this environment, not stubbed.
Failures are DATA (status=-1 + error column), never exceptions: a
100 TB ingest must not abort because one of a million URIs is dead.
"""

from __future__ import annotations


from pyspark.sql import DataFrame

from neuroimaging_data_pipeline_spark.functions.rowmap import map_rows

FETCH_SCHEMA = (
    "uri string, status int, n_bytes int, content string, error string"
)


def fetch_text(
    uris: DataFrame,
    uri_col: str = "uri",
    timeout: float = 10.0,
    max_bytes: int = 16 * 1024 * 1024,
) -> DataFrame:
    """Fetch every URI in ``uris[uri_col]`` and return
    (uri, status, n_bytes, content, error).

    - supported schemes: file, http, https (whatever stdlib urllib
      opens); anything else -> status -1 + error row.
    - ``max_bytes`` caps a single response so one pathological URI
      cannot OOM an executor; truncation is reported in ``error``
      while the truncated content is still returned.
    - Narrow plan: one map_rows over the URI table's partitions —
      repartition the URI table upstream to size fetch parallelism.
    """

    import http.client
    import urllib.error
    import urllib.request

    def fetch(uri):
        status, n_bytes, content, error = -1, 0, None, None
        try:
            with urllib.request.urlopen(uri, timeout=timeout) as resp:
                raw = resp.read(max_bytes + 1)
                if len(raw) > max_bytes:
                    raw = raw[:max_bytes]
                    error = f"truncated at {max_bytes} bytes"
                # file:// responses carry no HTTP status
                status = getattr(resp, "status", None) or 200
                # bytes actually fetched, NOT the re-encoded
                # length of the decoded text (errors='replace'
                # maps undecodable bytes to U+FFFD, which
                # would inflate a re-encoded count)
                n_bytes = len(raw)
                content = raw.decode("utf-8", errors="replace")
        except (
            urllib.error.URLError,
            # malformed status line / truncated chunked body —
            # HTTPException does NOT subclass OSError, and the
            # contract here is failures-as-data, never a task
            # abort
            http.client.HTTPException,
            ValueError,
            OSError,
        ) as e:
            error = str(e)
        yield uri, status, n_bytes, content, error

    return map_rows(uris, fetch, FETCH_SCHEMA, cols=(uri_col,))
