"""Drop-in CLI: run the engine from an unmodified kafka-connect-ftp
properties file (the reference's example.properties format).

    python -m kafka_connect_ftp_spark --properties connect.properties \
        [--local-root DIR] [--state-dir DIR] [--sink-dir DIR] \
        [--max-polls N | --forever] [--list-only]

Connector parity (reference: FtpSourceTask.scala poll loop):
  * the ``ftp.*`` property surface is parsed verbatim
    (ingest/config.py; FtpSourceConfig.scala:35-47);
  * each tick lists the monitored trees, fetches only new/changed files,
    emits update bodies / tail deltas, and commits per-file state after
    delivery (offsets-after-produce ordering, FtpMonitor.scala:108-122);
  * failures back off exponentially up to ``ftp.max.backoff``
    (ExponentialBackOff.scala:5-22).

Modes:
  * ``--local-root DIR`` — monitor paths resolve under a local directory
    tree (file:// deployment; no FTP server involved).
  * otherwise — connect to ``ftp.address`` with ``ftp.user``/
    ``ftp.password`` and poll the remote tree (distributed RETR).

Records land in ``--sink-dir`` as parquet (appended per tick with an
``epoch`` column) or, without a sink dir, a per-tick count + sample is
printed. Delivery happens BEFORE the state commit, so a failed write is
retried on the next tick instead of dropped (SURVEY.md §2.8 T5).
"""

from __future__ import annotations

import argparse
import sys
import time

from pyspark.sql import functions as F


def parse_properties(path: str) -> dict[str, str]:
    """Parse a java .properties file: ``k=v`` / ``k: v`` / ``k v``,
    ``#``/``!`` comments, backslash line continuations."""
    props: dict[str, str] = {}
    with open(path, encoding="utf-8") as fh:
        logical = ""
        for raw in fh:
            line = raw.rstrip("\n")
            if not logical and (not line.strip() or line.lstrip()[0] in "#!"):
                continue
            if logical:
                # java.util.Properties strips leading whitespace from
                # continuation lines
                line = line.lstrip()
            # a line continues iff it ends in an ODD number of backslashes
            # (an even count is escaped backslashes, java semantics)
            trailing = len(line) - len(line.rstrip("\\"))
            if trailing % 2 == 1:
                logical += line[:-1]
                continue
            logical += line
            stripped = logical.strip()
            logical = ""
            if not stripped:
                continue
            # key ends at the first unescaped '=', ':' or whitespace;
            # whitespace around the separator is ignored, so 'k = v'
            # yields ('k', 'v') — java.util.Properties semantics
            i, n = 0, len(stripped)
            while i < n and not (stripped[i] in "=:" or stripped[i].isspace()):
                if stripped[i] == "\\":
                    i += 1  # escaped char belongs to the key
                i += 1
            key, rest = stripped[:i], stripped[i:]
            rest = rest.lstrip()
            if rest[:1] in "=:":
                rest = rest[1:]
            value = rest.lstrip()
            props[_unescape(key.strip())] = _unescape(value)
    return props


def _unescape(s: str) -> str:
    """Decode java.util.Properties backslash escapes (\\=, \\:, \\\\, \\t,
    \\n, \\ ); unknown escapes drop the backslash, like java."""
    out, i = [], 0
    specials = {"t": "\t", "n": "\n", "r": "\r", "f": "\f"}
    while i < len(s):
        if s[i] == "\\" and i + 1 < len(s):
            out.append(specials.get(s[i + 1], s[i + 1]))
            i += 2
        else:
            out.append(s[i])
            i += 1
    return "".join(out)


def _parquet_sink(sink_dir: str):
    def write(records, epoch: int) -> None:
        records.withColumn("epoch", F.lit(epoch)).write.mode("append").parquet(sink_dir)

    return write


def _print_sink(records, epoch: int) -> None:
    rows = records.limit(5).collect()
    print(f"tick {epoch}: {records.count()} record(s)")
    for r in rows:
        body = bytes(r.value or b"")
        shown = body[:48] + (b"..." if len(body) > 48 else b"")
        print(f"  topic={r.topic} key={r.key_name} offset={r.key_offset} value={shown!r}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="python -m kafka_connect_ftp_spark",
        description="Poll FTP/local directories and emit file-change records "
        "(kafka-connect-ftp drop-in).",
    )
    ap.add_argument("--properties", required=True, help="connector .properties file")
    ap.add_argument("--state-dir", default="./ftp_state", help="per-file state table dir")
    ap.add_argument("--local-root", help="resolve monitor paths under this local dir (no FTP)")
    ap.add_argument("--sink-dir", help="append records as parquet here (default: print)")
    ap.add_argument("--max-polls", type=int, default=1, help="stop after N ticks (default 1)")
    ap.add_argument("--forever", action="store_true", help="poll until interrupted")
    ap.add_argument("--list-only", action="store_true", help="print the current listing and exit")
    args = ap.parse_args(argv)

    from kafka_connect_ftp_spark.ingest.config import FtpEngineConfig
    from kafka_connect_ftp_spark.session import get_spark
    from kafka_connect_ftp_spark.streaming.backoff import ExponentialBackOff

    cfg = FtpEngineConfig.from_props(parse_properties(args.properties))
    if not cfg.monitors:
        print("no ftp.monitor.tail / ftp.monitor.update entries configured", file=sys.stderr)
        return 2

    # resolve the converter knobs BEFORE any Spark startup (review 9b:
    # "fails at startup" must mean before the ~10s JVM spin-up, and
    # --list-only must validate them too): both resolutions depend only
    # on the parsed config
    from kafka_connect_ftp_spark.ingest.converters import (
        get_file_converter,
        get_record_converter,
    )

    convert = get_record_converter(cfg.converter) if cfg.converter != "nop" else None
    fconvert = (
        get_file_converter(cfg.file_converter)
        if cfg.file_converter != "nop"
        else None
    )

    spark = get_spark("ftp-engine-cli")
    source = None
    if args.local_root is None:
        from kafka_connect_ftp_spark.sources.ftp import FtpSource

        source = FtpSource(
            host=cfg.host,
            port=cfg.port or 21,
            user=cfg.user,
            password=cfg.password,
            tls=cfg.tls,
        )

    pipeline = cfg.build_pipeline(
        spark, args.state_dir, source=source, local_root=args.local_root
    )

    if args.list_only:
        # metadata only: the listing opens no file and runs no Spark job;
        # times print in the driver's local time, as collected ones would
        for r in pipeline.default_listing().sort_by("path").to_pylist():
            mtime = r["modification_time"].astimezone().replace(tzinfo=None)
            print(f"{r['size']:>10}  {mtime}  {r['path']}")
        return 0

    sink = _parquet_sink(args.sink_dir) if args.sink_dir else _print_sink
    # ftp.sourcerecordconverter parity (FtpSourceTask.scala:83-87; X2 in
    # SURVEY §2.7): the configured 1→N record converter runs on each
    # tick's records before delivery (resolved pre-Spark above). NB: the
    # tick metrics line reports SOURCE records/bytes (files fetched, the
    # poll-level semantic), not post-conversion record counts — the
    # converted volume is what lands in the sink.
    if convert is not None:
        inner_sink = sink

        def sink(records, epoch: int, _c=convert, _s=inner_sink) -> None:
            _s(_c(records), epoch)

    # ftp.fileconverter parity (FtpSourceConfig.scala:45,
    # FileConverter.scala): the configured FILE converter runs on the
    # tick's file bodies BEFORE the record converter (the reference
    # order: FileConverter makes records from bodies, then
    # SourceRecordConverter maps 1→N).
    if fconvert is not None:
        rec_sink = sink

        def sink(records, epoch: int, _c=fconvert, _s=rec_sink) -> None:
            _s(_c(records), epoch)

    backoff = ExponentialBackOff(step_seconds=1.0, cap_seconds=cfg.max_backoff_seconds)
    epoch, polled, succeeded = 0, 0, 0
    while True:
        t0 = time.time()
        if backoff.passed():
            try:
                pipeline.poll(sink=sink, epoch=epoch)
                backoff.next_success()
                succeeded += 1
                m = pipeline.last_metrics
                if m:
                    print(
                        f"tick {m['epoch']}: {m['n_changed']} changed / "
                        f"{m['n_records']} record(s), {m['bytes_emitted']} B, "
                        f"{m['n_tracked_paths']} tracked, {m['wall_seconds']}s",
                        file=sys.stderr,
                    )
            except KeyboardInterrupt:  # pragma: no cover - interactive only
                return 130
            except Exception as e:  # noqa: BLE001 - poll failures must not kill the loop
                backoff.next_failure()
                print(
                    f"tick {epoch} failed ({e}); next attempt in "
                    f"{backoff.remaining_seconds():.0f}s",
                    file=sys.stderr,
                )
            epoch += 1
        polled += 1
        if not args.forever and polled >= args.max_polls:
            # a run whose every attempted tick failed must not report
            # success to cron/CI wrappers
            return 0 if succeeded or not epoch else 1
        # reference semantics: next tick starts `refresh` after the
        # previous one BEGAN (FtpSourceTask.scala:55 interval check);
        # under backoff, wait out the remaining penalty instead
        try:
            time.sleep(
                max(backoff.remaining_seconds(), cfg.refresh_seconds - (time.time() - t0), 0.0)
            )
        except KeyboardInterrupt:  # pragma: no cover - interactive only
            # --forever runs spend nearly all wall time here; Ctrl-C must
            # exit cleanly, not dump a traceback
            return 130


if __name__ == "__main__":
    sys.exit(main())
