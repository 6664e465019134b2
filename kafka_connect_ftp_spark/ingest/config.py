"""Configuration parity: the reference's ``ftp.*`` property surface
(FtpSourceConfig.scala:35-47, example.properties) parsed into engine
objects, so an existing connector config drops in unchanged.

Supported keys (defaults mirror the reference):

    ftp.address              host[:port]
    ftp.user / ftp.password
    ftp.refresh              ISO-8601 duration (poll interval), e.g. PT1M
    ftp.max.backoff          ISO-8601 duration, default PT30M
    ftp.file.maxage          ISO-8601 duration, default ~unbounded
    ftp.keystyle             string | struct
    ftp.max.poll.records     int, default 10000
    ftp.monitor.tail         comma list of path:topic (append-delta mode)
    ftp.monitor.update       comma list of path:topic (whole-body mode)
    ftp.fileconverter        FILE converter registry name (default
                             "nop" ~= the reference's
                             SimpleFileConverter; e.g. "gunzip",
                             "csv_lines" — FtpSourceConfig.scala:45,
                             applied to file bodies BEFORE the record
                             converter, FileConverter.scala order)
    ftp.sourcerecordconverter  converter registry name (default "nop";
                             the reference takes a class name — here it
                             selects from converters.register_converter)
    ftp.protocol             ftp | ftps (engine extension: explicit-TLS
                             FTPS with PROT P; the reference is
                             plaintext-only)
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from kafka_connect_ftp_spark.ingest.model import MonitoredPath

_ISO_RX = re.compile(
    r"^P(?:(?P<days>\d+)D)?"
    r"(?:T(?:(?P<hours>\d+)H)?(?:(?P<minutes>\d+)M)?(?:(?P<seconds>\d+(?:\.\d+)?)S)?)?$",
    re.IGNORECASE,
)


def parse_iso_duration(text: str) -> float:
    """ISO-8601 duration → seconds (the subset java.time.Duration.parse
    accepts for connector configs: days/hours/minutes/seconds)."""
    m = _ISO_RX.match(text.strip())
    if not m or text.strip().upper() in ("P", "PT"):
        raise ValueError(f"invalid ISO-8601 duration: {text!r}")
    g = {k: float(v) if v else 0.0 for k, v in m.groupdict().items()}
    return g["days"] * 86400 + g["hours"] * 3600 + g["minutes"] * 60 + g["seconds"]


# the reference's converter knobs are Type.CLASS: a real config pins
# them with FQCNs. Its two shipped classes are behavioral no-ops here
# (SimpleFileConverter = the engine's default framing,
# NopSourceRecordConverter = identity), so a config that names them
# must keep dropping in unchanged instead of failing the registry
# lookup (review 9b #1). The alias map is PER KNOB: SimpleFileConverter
# only belongs to ftp.fileconverter and NopSourceRecordConverter only
# to ftp.sourcerecordconverter — a swapped-knob misconfiguration must
# reach the registry and fail there, not silently alias to 'nop'.
_CLASS_ALIASES = {
    "record": {"nopsourcerecordconverter": "nop"},
    "file": {"simplefileconverter": "nop"},
}


def _converter_name(raw: str, knob: str) -> str:
    """Normalize a converter knob value: the reference class that
    belongs to THIS knob ('record' or 'file', bare or fully qualified)
    maps to its engine registry analog; anything else passes through
    for the registry to resolve (and fail loudly on unknown names)."""
    return _CLASS_ALIASES[knob].get(raw.rsplit(".", 1)[-1].lower(), raw)


def _parse_monitors(spec: str, *, tail: bool) -> list[MonitoredPath]:
    """"/path/:topic, /other/*.csv:t2" → MonitoredPath list
    (FtpSourceConfig.scala:55-64 keyValuePairListOpt)."""
    out = []
    for pair in filter(None, (p.strip() for p in spec.split(","))):
        # FIRST colon, like the reference's '([^:]*):(.*)' regex
        # (FtpSourceConfig.scala keyValuePairListOpt): the path may not
        # contain ':', the topic may — '/logs/:raw:v1' is path='/logs/',
        # topic='raw:v1'.
        path, sep, topic = pair.partition(":")
        if not sep or not path or not topic:
            raise ValueError(f"invalid monitor entry {pair!r}; want path:topic")
        out.append(MonitoredPath(path=path, topic=topic, tail=tail))
    return out


@dataclass
class FtpEngineConfig:
    host: str = "localhost"
    port: int | None = None
    user: str = ""
    password: str = ""
    refresh_seconds: float = 60.0
    max_backoff_seconds: float = 1800.0
    max_age_seconds: float | None = None
    key_style: str = "string"
    max_poll_records: int = 10000
    monitors: list[MonitoredPath] = field(default_factory=list)
    converter: str = "nop"
    file_converter: str = "nop"
    tls: bool = False

    @classmethod
    def from_props(cls, props: dict[str, str]) -> "FtpEngineConfig":
        address = props.get("ftp.address", "localhost")
        host, _, port_s = address.partition(":")
        key_style = props.get("ftp.keystyle", "string")
        if key_style not in ("string", "struct"):
            raise ValueError(f"ftp.keystyle must be string|struct, got {key_style!r}")
        monitors = _parse_monitors(props.get("ftp.monitor.tail", ""), tail=True) + _parse_monitors(
            props.get("ftp.monitor.update", ""), tail=False
        )
        max_age = props.get("ftp.file.maxage")
        protocol = props.get("ftp.protocol", "ftp").lower()
        if protocol not in ("ftp", "ftps"):
            raise ValueError(f"ftp.protocol must be ftp|ftps, got {protocol!r}")
        return cls(
            host=host,
            port=int(port_s) if port_s else None,
            user=props.get("ftp.user", ""),
            password=props.get("ftp.password", ""),
            refresh_seconds=parse_iso_duration(props.get("ftp.refresh", "PT1M")),
            max_backoff_seconds=parse_iso_duration(props.get("ftp.max.backoff", "PT30M")),
            max_age_seconds=parse_iso_duration(max_age) if max_age else None,
            key_style=key_style,
            max_poll_records=int(props.get("ftp.max.poll.records", "10000")),
            monitors=monitors,
            converter=_converter_name(props.get("ftp.sourcerecordconverter", "nop"), "record"),
            file_converter=_converter_name(props.get("ftp.fileconverter", "nop"), "file"),
            tls=protocol == "ftps",
        )

    @property
    def key_converter_name(self) -> str:
        return "struct_key" if self.key_style == "struct" else "string_key"

    def build_pipeline(
        self, spark, state_dir: str, *, source=None, local_root: str | None = None
    ):
        """Assemble a PollPipeline from this config.

        ``source`` is the listing/fetch source (default: the local tree).
        ``local_root`` remaps monitor paths under a local directory for
        file://-based deployments; omit to use the paths as-is.
        """
        from kafka_connect_ftp_spark.ingest.pipeline import PollPipeline

        monitors = self.monitors
        if local_root is not None:
            monitors = [
                MonitoredPath(path=local_root.rstrip("/") + m.path, topic=m.topic, tail=m.tail)
                for m in monitors
            ]
        return PollPipeline(
            spark,
            monitors,
            state_dir,
            source=source,
            # keep the float: int() would truncate PT0.5S to a
            # filter-everything max_age of 0
            max_age_seconds=self.max_age_seconds if self.max_age_seconds else None,
            max_files_per_poll=self.max_poll_records,
        )
