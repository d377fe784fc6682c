"""Syslog parsers — RFC 5424 and RFC 3164 (BSD), format-sniffed.

The reference's stanza receiver registers file/json/regex operators
(receiver/stanzareceiver/register.go:19-22); the stanza ecosystem it
embeds also ships a syslog parser, and a log pipeline a reference user
would migrate almost always has syslog ingest — so this is implemented
beyond the registered trio, with the stanza-style contract: one line
column in, typed fields out, unparseable lines kept and flagged (the
regex_parser miss discipline).

Spark-first: pure-JVM ``regexp_extract`` per field over the short line
(the carbon/wavefront parser shape — no Python on the parse path).

Fields:
- ``pri`` -> ``facility`` = pri/8, ``severity`` = pri%8 and the 8
  canonical syslog severity names (RFC 5424 §6.2.1);
- RFC 5424: version, RFC3339 timestamp string, hostname, app, procid,
  msgid ('-' -> NULL), first structured-data element parsed to a
  map<string,string>;
- RFC 3164: 'MMM d HH:mm:ss' timestamp string (no year on the wire —
  callers add one downstream), hostname, TAG[pid]: split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SEVERITY_NAMES = ["emerg", "alert", "crit", "err",
                  "warning", "notice", "info", "debug"]

# <PRI>VERSION SP TIMESTAMP SP HOSTNAME SP APP SP PROCID SP MSGID SP SD SP MSG
RX_5424 = (r"^<(\d{1,3})>(\d) (\S+) (\S+) (\S+) (\S+) (\S+) "
           r"(-|\[.*?\])(?: (.*))?$")
# <PRI>MMM( )d HH:mm:ss SP HOSTNAME SP TAG[pid]: MSG   (TAG bare or with pid)
RX_3164 = (r"^<(\d{1,3})>([A-Z][a-z]{2}) +(\d{1,2}) "
           r"(\d{2}:\d{2}:\d{2}) (\S+) ([^\[:\s]+)(?:\[(\d+)\])?: ?(.*)$")
# k="v" pairs inside the first SD element
RX_SD_KV = r'(\w+)="([^"]*)"'


def _sev_name(sev):
    return F.element_at(
        F.array(*[F.lit(n) for n in SEVERITY_NAMES]), sev + 1)


def parse_syslog(df: DataFrame, line_col: str = "line") -> DataFrame:
    """Sniff RFC 5424 vs RFC 3164 per line and extract both shapes into
    one unified schema; ``format`` is 'rfc5424' / 'rfc3164' / NULL
    (unparsed, kept — the stanza on-error discipline)."""
    line = F.col(line_col)
    is_5424 = line.rlike(RX_5424)
    is_3164 = ~is_5424 & line.rlike(RX_3164)

    def g5(i):
        return F.regexp_extract(line, RX_5424, i)

    def g3(i):
        return F.regexp_extract(line, RX_3164, i)

    pri = (F.when(is_5424, g5(1)).when(is_3164, g3(1))
           .cast("int"))
    # '-' is RFC nil; '' is a non-participating regex group (e.g. a
    # 3164 TAG without [pid]) — both mean absent
    nullable = lambda c: (F.when((c == "-") | (c == ""), F.lit(None))  # noqa: E731
                          .otherwise(c))
    sd_raw = nullable(g5(8))
    sd_map = F.when(sd_raw.isNotNull(), F.map_from_entries(
        F.transform(
            F.regexp_extract_all(sd_raw, F.lit(RX_SD_KV), F.lit(0)),
            lambda p: F.struct(
                F.regexp_extract(p, RX_SD_KV, 1).alias("key"),
                F.regexp_extract(p, RX_SD_KV, 2).alias("value")))))
    sev = pri % 8
    return (df
            .withColumn("format",
                        F.when(is_5424, "rfc5424")
                        .when(is_3164, "rfc3164"))
            .withColumn("facility", (pri / 8).cast("int"))
            .withColumn("severity", sev)
            .withColumn("severity_name",
                        F.when(sev.isNotNull(), _sev_name(sev)))
            .withColumn("ts_s",
                        F.when(is_5424, g5(3))
                        .when(is_3164, F.concat_ws(
                            " ", g3(2), g3(3).cast("int").cast("string"),
                            g3(4))))
            .withColumn("hostname",
                        F.when(is_5424, nullable(g5(4)))
                        .when(is_3164, g3(5)))
            .withColumn("app",
                        F.when(is_5424, nullable(g5(5)))
                        .when(is_3164, g3(6)))
            .withColumn("procid",
                        F.when(is_5424, nullable(g5(6)))
                        .when(is_3164, nullable(g3(7))))
            .withColumn("msgid", F.when(is_5424, nullable(g5(7))))
            .withColumn("sd", F.when(is_5424, sd_map))
            .withColumn("msg",
                        F.when(is_5424, g5(9)).when(is_3164, g3(8))))
