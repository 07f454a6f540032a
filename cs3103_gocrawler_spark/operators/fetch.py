"""U2/J4/S2-S5 — the fetch stage (SURVEY.md §2.1).

Real mode (a live crawl) would run HTTP GETs inside ``mapInPandas`` batches —
one connection pool per executor slot, retry+backoff per element
(rhttp.go:45-63). In the synthetic-web mode that all tests/benches use, the
"network" is the generator's pages table, so the fetch becomes a *join*:

    dequeued(url, ...) LEFT JOIN pages(image_id → url, status, content_type,
    body_html [, payload cols]). crawlbench registers the pages table
    bucketed by ``image_id``, yet AQE's final plan broadcasts the whole
    pruned pages side every round (wide-bfs: ``BroadcastQueryStage
    sizeInBytes=32.5 MiB``, ``Bucketed: false (disabled by query
    planner)``), so neither a repartition nor a storage-partitioned join
    runs. The join output's big columns go straight into ONE fused
    ``mapInPandas`` pass (``fetch_process``) that runs everything
    Python-side — retry/backoff enrich, canonical href extraction, payload
    validation — and drops them inside the worker, so they never enter a
    shuffle NOR a second JVM↔Python pipe crossing (§4.2 spill discipline;
    profiling numbers in the ``fetch_process`` docstring).

Negative result, so nobody retries it blind: a ``shuffle_merge`` hint on
the join does spread the fused pass over n tasks, but the fetched table is
then written as n files per round; ``state_mb`` went 0.134 → 0.226 on
polite-deep and 0.488 → 0.624 on wide-bfs (2 runs each, ``local[4]``),
both past the benchmark's 0.2 bound.

The enrich logic runs exactly where live HTTP would: it computes the
deterministic synthetic response time (webgen page_resp_ms) and simulates
the retry/backoff loop for 5xx rows (functions/backoff.py) — same batch
shape, same UDF signature as real mode. DNS (S5) in synthetic mode is the
deterministic host→fake-IP mapping used by the geo-enrichment dimension
join (J6) in plans/report.py.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812

from ..functions.backoff import total_retry_backoff_ms
from ..functions.pyworker import forget_zip_finders
from ..synthetic.webgen import page_resp_ms

PAYLOAD_COLS = ("bytes", "w", "h", "fmt", "caption", "phash")


@dataclass(frozen=True)
class HttpConfig:
    """S2 live mode — the reference rhttp client options surface
    (rhttpoption.go:18-47: WithTimeout / WithProxy / UA header;
    rhttp.go:45-63 retry loop). One urllib opener per Python worker ≙ the
    reference's single ``http.Client`` per crawler.

    ``min_wait_ms``/``max_wait_ms`` default to the synthetic twin's frozen
    constants (functions/backoff.py) rather than the reference's 1000/10000
    defaults so live-mode and join-mode produce bit-identical
    ``(attempts, backoff_ms)`` columns for the same status sequence.
    ``sleep_scale`` scales the real sleeps (tests set ~0.01 — the *recorded*
    backoff_ms stays unscaled)."""

    timeout_s: float = 5.0
    proxy: str | None = None
    user_agent: str = "cs3103-gocrawler-spark/0.1"
    min_wait_ms: int = 100
    max_wait_ms: int = 1_000_000
    sleep_scale: float = 1.0


def fetch_process(
    dequeued: DataFrame,
    pages: DataFrame,
    *,
    matcher=None,
    blacklist: frozenset[str] = frozenset(),
    max_retries: int = 3,
    resp_seed: int = 42,
    backoff_policy: str = "exponential",
    validate: bool = False,
    gen_seed: int = 42,
    extractor=None,
    http: HttpConfig | None = None,
    matcher_names: tuple[str, ...] = ("html",),
    columns: dict | None = None,
) -> DataFrame:
    """The fused per-round fetch pipeline — fetch join + enrich + link
    extraction (+ inline payload validation) in ONE ``mapInPandas`` pass.

    Why fused: each chained Python stage is a separate JVM↔worker Arrow pipe,
    and the big columns (``body_html``, image ``bytes``) dominate that
    traffic. The unfused chain (enrich ``mapInPandas`` → extract
    ``pandas_udf`` → validation ``mapInPandas``) moved the payload across the
    pipe up to five times; profiled at 1M URLs/local[32] that was ~55 s of
    almost pure kernel time (pipe I/O) vs ~2 s for the join itself. Fused,
    the payload crosses exactly once and is dropped *inside* the Python
    worker, so only narrow columns come back — ~9× faster and it scales with
    cores again (the pipe bottleneck was also what flattened the N→4N
    scaling curve).

    JVM side keeps everything Catalyst can do: the join, ``found``, and the
    matcher ``outcome`` (P1-P6 Column conjunction, responsematcher.go:13-36).
    Python does only what needs Python: retry/backoff simulation
    (rhttp.go:45-63), href extraction + canonicalization
    (linkextractor.go:19-66), and image decode/phash/PSNR/caption validation
    (input_hint invariants). ``links`` leave canonical: no later stage
    canonicalizes them again.

    Output = input cols (minus payload; ``fmt`` kept as lineage) plus
    ``found, outcome, resp_ms, attempts, backoff_ms, links`` and, when
    ``validate``, the validation columns; ``partition_id`` lineage appended,
    then ``columns`` (name → Column) in the same projection.
    """
    from .extract import make_scoped_extractor
    from .validate import VALIDATION_COL_NAMES, _validate_row

    # X2 plug-point: any (base_url, body_html) -> list[str] callable — the
    # reference's pluggable LinkExtractor (linkextractor.go:14); the default
    # and the three example-app scopes come from extract.make_scoped_extractor
    if extractor is None:
        extractor = make_scoped_extractor(blacklist=blacklist)
    # partition_id lineage, then the caller's columns: one projection
    tail = {"partition_id": F.spark_partition_id(), **(columns or {})}

    if http is not None:
        if validate:
            raise ValueError(
                "validate=True needs the synthetic payload columns; live "
                "HTTP responses carry no reference payload to validate against"
            )
        return _live_fetch(
            dequeued, http=http, matcher_names=matcher_names,
            max_retries=max_retries, backoff_policy=backoff_policy,
            extractor=extractor,
        ).withColumns(tail)

    cols = ["status", "content_type", "body_html"] + (
        list(PAYLOAD_COLS) if validate else []
    )
    pruned = pages.select(F.col("image_id").alias("url"), *cols)
    found = F.col("status").isNotNull()
    ok = found & (matcher if matcher is not None else F.lit(True))
    derived = {
        "found": found,
        "outcome": F.when(~found, F.lit("fetch_error"))
        .when(~ok, F.lit("matcher"))
        .otherwise(F.lit("ok")),
    }
    if validate:
        # phash crosses as a decimal string: Arrow→pandas turns a nullable
        # int64 column into float64 whenever a batch mixes fetch misses
        # (null) with hits, which rounds a 64-bit hash; a string keeps it
        # exact and misses stay None. Cast after the join: a cast in the
        # pages projection raises that side's size estimate and can flip
        # the join from broadcast to sort-merge.
        derived["phash"] = F.col("phash").cast("string")
    joined = dequeued.join(pruned, "url", "left").withColumns(derived)

    big = {"body_html"} | (set(PAYLOAD_COLS) - {"fmt"} if validate else set())
    keep = [f.name for f in joined.schema.fields if f.name not in big]
    out_names = keep + ["resp_ms", "attempts", "backoff_ms", "links"] + (
        list(VALIDATION_COL_NAMES) if validate else []
    )
    out_schema = ",".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in joined.schema.fields
        if f.name not in big
    ) + ",resp_ms bigint,attempts int,backoff_ms bigint,links array<string>"
    if validate:
        out_schema += (
            ",decode_ok boolean,psnr_db double,phash_ok boolean,"
            "caption_ok boolean,valid boolean"
        )

    def process(batches):
        forget_zip_finders()
        # real mode: one requests.Session opened here, reused across batches
        for pdf in batches:
            resp, att, back, links = [], [], [], []
            vals = {k: [] for k in VALIDATION_COL_NAMES} if validate else None
            pay_iter = (
                zip(pdf["bytes"], pdf["w"], pdf["h"], pdf["fmt"],
                    pdf["caption"], pdf["phash"])
                if validate
                else iter(lambda: None, 0)  # infinite Nones
            )
            for (url, status, found, outcome, body), pay in zip(
                zip(pdf["url"], pdf["status"], pdf["found"],
                    pdf["outcome"], pdf["body_html"]),
                pay_iter,
            ):
                if not found:
                    resp.append(0)
                    att.append(int(max_retries) + 1)  # transport error: all retries burned
                    back.append(0)
                    links.append(None)
                    if validate:
                        for k in VALIDATION_COL_NAMES:
                            vals[k].append(None)
                    continue
                a, b = total_retry_backoff_ms(
                    int(status), max_retries, key=url, policy=backoff_policy
                )
                resp.append(page_resp_ms(resp_seed, url))
                att.append(a)
                back.append(b)
                links.append(extractor(url, body) if outcome == "ok" else None)
                if validate:
                    payload, w, h, fmt, caption, phash = pay
                    if payload is None or fmt is None:
                        for k in VALIDATION_COL_NAMES:
                            vals[k].append(None)
                    else:
                        row = _validate_row(
                            url, bytes(payload), w, h, fmt, caption, phash, gen_seed
                        )
                        for k, v in zip(VALIDATION_COL_NAMES, row):
                            vals[k].append(v)
            out = pdf[keep].assign(
                resp_ms=resp, attempts=att, backoff_ms=back, links=links,
                **(vals or {}),
            )
            yield out[out_names]

    return joined.mapInPandas(process, schema=out_schema).withColumns(tail)


def _live_fetch(
    dequeued: DataFrame,
    *,
    http: HttpConfig,
    matcher_names: tuple[str, ...],
    max_retries: int,
    backoff_policy: str,
    extractor,
) -> DataFrame:
    """S2 real-HTTP branch behind ``fetch_process``'s signature: HTTP GETs
    run inside the same ONE ``mapInPandas`` pass, one urllib opener per
    Python worker reused across batches (reference: a single retrying
    ``http.Client``, rhttp.go:29,45-63). Retry/backoff semantics mirror the
    synthetic twin exactly — a 5xx burns ``max_retries`` retries with
    policy+jitter waits keyed by URL (functions/backoff.py), a transport
    error records ``attempts=max_retries+1, backoff_ms=0`` like a missing
    page in join mode — so the two modes emit identical
    ``(found, outcome, attempts, backoff_ms, links)`` for the same content.
    ``resp_ms`` is the real wall time of the final attempt (the one column
    that is measured, not derived).

    Output schema = input + the same narrow columns join mode emits (minus
    validation); the body is dropped inside the worker, exactly like the
    synthetic path — only narrow columns return to the JVM.
    """
    from ..functions.backoff import exponential_backoff_ms, linear_backoff_ms
    from .matchers import python_conjunction

    in_names = [f.name for f in dequeued.schema.fields]
    out_schema = ",".join(
        f"{f.name} {f.dataType.simpleString()}" for f in dequeued.schema.fields
    ) + (
        ",status int,content_type string,found boolean,outcome string"
        ",resp_ms bigint,attempts int,backoff_ms bigint,links array<string>"
        ",remote_ip string"
    )
    policy_fn = (
        exponential_backoff_ms if backoff_policy == "exponential"
        else linear_backoff_ms
    )
    match = python_conjunction(list(matcher_names))

    def process(batches):
        forget_zip_finders()
        import socket as _socket
        import time as _time
        import urllib.error as _err
        import urllib.request as _rq
        from urllib.parse import urlsplit as _urlsplit

        handlers = []
        if http.proxy:
            handlers.append(
                _rq.ProxyHandler({"http": http.proxy, "https": http.proxy})
            )
        opener = _rq.build_opener(*handlers)
        # S5 live DNS (reference crawler.go:122-126 net.LookupIP): memoized
        # per worker — each distinct host resolves once per worker process;
        # lowest address for a deterministic report value
        dns: dict[str, str | None] = {}

        def _resolve(u: str) -> str | None:
            try:
                hostname = _urlsplit(u).hostname or ""
            except ValueError:
                return None
            if hostname not in dns:
                try:
                    infos = _socket.getaddrinfo(hostname, None)
                    dns[hostname] = sorted({i[4][0] for i in infos})[0]
                except Exception:
                    dns[hostname] = None
            return dns[hostname]

        for pdf in batches:
            cols: dict[str, list] = {
                k: [] for k in (
                    "status", "content_type", "found", "outcome",
                    "resp_ms", "attempts", "backoff_ms", "links", "remote_ip",
                )
            }
            for url in pdf["url"]:
                cols["remote_ip"].append(_resolve(url))
                status = ctype = body = None
                backoff_total = 0
                attempts = 0
                t_last = _time.monotonic()
                for attempt in range(max_retries + 1):
                    attempts = attempt + 1
                    t_last = _time.monotonic()
                    try:
                        req = _rq.Request(
                            url, headers={"User-Agent": http.user_agent}
                        )
                        with opener.open(req, timeout=http.timeout_s) as resp:
                            status = resp.status
                            ctype = resp.headers.get("Content-Type", "") or ""
                            body = resp.read().decode("utf-8", "replace")
                    except _err.HTTPError as e:
                        # non-2xx: a real response — matcher decides outcome
                        status = e.code
                        ctype = (e.headers.get("Content-Type", "") or "") if e.headers else ""
                        body = ""
                    except Exception:
                        status = None  # transport error (DNS/refused/timeout)
                    if status is not None and status < 500:
                        break
                    if attempt < max_retries:
                        wait = policy_fn(
                            http.min_wait_ms, http.max_wait_ms, attempt, key=url
                        )
                        backoff_total += wait
                        _time.sleep(wait * http.sleep_scale / 1000.0)
                resp_ms = int((_time.monotonic() - t_last) * 1000)
                found = status is not None
                if not found:
                    # join-mode parity for missing pages (fetch.process):
                    # all retries burned, no recorded backoff/response time
                    cols["status"].append(None)
                    cols["content_type"].append(None)
                    cols["found"].append(False)
                    cols["outcome"].append("fetch_error")
                    cols["resp_ms"].append(0)
                    cols["attempts"].append(int(max_retries) + 1)
                    cols["backoff_ms"].append(0)
                    cols["links"].append(None)
                    continue
                ok = match(status, ctype)
                cols["status"].append(int(status))
                cols["content_type"].append(ctype)
                cols["found"].append(True)
                cols["outcome"].append("ok" if ok else "matcher")
                cols["resp_ms"].append(resp_ms)
                cols["attempts"].append(attempts)
                cols["backoff_ms"].append(backoff_total)
                cols["links"].append(extractor(url, body) if ok else None)
            yield pdf[in_names].assign(**cols)

    return dequeued.mapInPandas(process, schema=out_schema)
