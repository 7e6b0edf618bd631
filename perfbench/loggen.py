"""Seeded access-log generator with planted ground truth.

The same (seed, lines, files) always gives the same bytes. Lines mix
Apache combined, Common Log Format and IIS W3C layouts, with Zipf-skewed
client IPs, about 2% percent-encoded URIs and about 0.5% garbage lines.
About 5% of lines are verbatim copies of a line from another file (the
cross-source duplicates the engine's dedup removes). Every file gets one
DirSearch scan (all six default keywords from one IP inside one
session) and one burst of >=100 status-500 requests followed by a 200 on
the same URI.

Uniqueness is planted so the truth is exact: every original line's
resp_size is ``files * counter + file_index``, so no two original lines
share a dedup key, within a file or across files, and each copy forms a
group of exactly two rows from two sources.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
          "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
# Each file is a different server with its own local clock offset.
OFFSETS = ["+0000", "+0200", "-0500", "+0530", "+0000", "-0800", "+0100", "+0900"]

PATHS = [
    "/", "/index.html", "/about", "/contact", "/products", "/products/list",
    "/cart", "/checkout", "/api/v1/items", "/api/v1/users", "/api/v2/search",
    "/blog", "/blog/post", "/news", "/docs/guide", "/downloads/tool.exe",
    "/login", "/admin/panel", "/config/app", "/upload/form", "/setup/init",
    "/static/app.js", "/static/site.css", "/img/logo.png", "/img/banner.jpg",
    "/favicon.ico", "/fonts/main.woff2", "/report.cgi", "/db/export.sql",
    "/cgi-bin/status.pl", "/search", "/user/profile", "/help", "/faq",
]
ENCODED = [
    "/search?q=%27%20OR%201%3D1--", "/view?file=%2e%2e%2f%2e%2e%2fetc%2fpasswd",
    "/index.php?page=%252e%252e%252fconfig", "/api/v1/items?name=caf%C3%A9",
    "/download?f=report%20final.pdf", "/shell.php%00.jpg",
    "/q?x=%3Cscript%3Ealert(1)%3C%2Fscript%3E", "/admin%2Fconsole",
]
METHODS = ["GET"] * 80 + ["POST"] * 14 + ["HEAD", "PUT", "DELETE", "OPTIONS", "PATCH", "TRACE"]
STATUSES = ([200] * 70 + [304] * 8 + [404] * 8 + [301] * 4 + [302] * 3
            + [403] * 2 + [201, 207, 401, 500, 502, 503, 418])
AGENTS = [
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64; rv:120.0) Gecko/20100101 Firefox/120.0",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 13_5) AppleWebKit/605.1.15 Safari/605.1.15",
    "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 Chrome/119.0 Safari/537.36",
    "curl/8.4.0", "python-requests/2.31.0", "Googlebot/2.1 (+http://www.google.com/bot.html)",
    "sqlmap/1.7.10#stable (https://sqlmap.org)", "Nikto/2.5.0",
]
REFERRERS = ["-"] * 12 + ["https://www.example.com/", "https://search.example.org/?q=x",
                          "https://fofa.info/result"]
# The six default DirSearch keywords (detectors.tools.DEFAULT_TOOL_SIGNATURES).
DIRSEARCH_URIS = ["/.access", "/logs/app.bak_0.log", "/.chef/config.rb",
                  "/.isort.cfg", "/.spacemacs", "/~xfs"]
BURST_URI = "/login.php"
BURST_SIZE = 120
SPAN_S = 6 * 3600  # every timestamp is within SPAN_S of Truth.start_epoch


def scan_ip(f: int) -> str:
    return f"203.0.113.{f + 1}"


def burst_ip(f: int) -> str:
    return f"198.51.100.{f + 1}"


@dataclass
class Truth:
    """What the generator planted, for checking the engine's output."""

    files: int
    lines: int
    garbage: int
    cross_dups: int
    rows_after_dedup: int
    dirsearch_stamps: int
    burst_success_rows: int
    start_epoch: int


def _apache_ts(t: datetime, off: str) -> str:
    sign = 1 if off[0] == "+" else -1
    local = t + sign * timedelta(hours=int(off[1:3]), minutes=int(off[3:5]))
    return (f"{local.day:02d}/{MONTHS[local.month - 1]}/{local.year}:"
            f"{local.hour:02d}:{local.minute:02d}:{local.second:02d} {off}")


def _line(fmt: str, t: datetime, off: str, ip: str, method: str, uri: str,
          status: int, size: int, ref: str, ua: str) -> str:
    if fmt == "iis":
        return (f"{t:%Y-%m-%d %H:%M:%S} W3SVC1 {method} {uri} - 443 - {ip} "
                f"{ua.replace(' ', '+')} {ref} {status} 0 0 {size}")
    head = f'{ip} - - [{_apache_ts(t, off)}] "{method} {uri} HTTP/1.1" {status} {size}'
    return head if fmt == "clf" else f'{head} "{ref}" "{ua}"'


def generate(out_dir: str, seed: int, lines: int = 200_000, files: int = 8) -> Truth:
    """Write `files` log files into `out_dir`; return the planted truth."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    base = datetime(2025, 4, 21, tzinfo=timezone.utc) + timedelta(hours=rng.randrange(24 * 300))
    span_s = SPAN_S
    n_ips = max(50, lines // 100)
    ips = [f"10.{rng.randrange(1, 255)}.{i // 250}.{i % 250 + 1}" for i in range(n_ips)]
    zipf = [1.0 / (k + 1) ** 1.1 for k in range(n_ips)]
    cum = []
    acc = 0.0
    for w in zipf:
        acc += w
        cum.append(acc)

    n_copies = lines * 5 // 100
    n_garbage = lines * 5 // 1000
    planted_per_file = len(DIRSEARCH_URIS) + 2 + BURST_SIZE + 1
    n_orig = lines - n_copies - n_garbage - planted_per_file * files
    if n_orig < files:
        raise ValueError(f"too few lines ({lines}) for {files} files")

    # per file: list of (utc epoch, kind, line); kind 'o' = original
    # (copyable), 'p' = planted, 'g' = garbage, 'c' = copy
    rows: list[list[tuple[float, str, str]]] = [[] for _ in range(files)]
    counters = [0] * files

    def size_for(f: int) -> int:
        counters[f] += 1
        return files * counters[f] + f

    t0 = base.timestamp()
    for i in range(n_orig):
        f = i % files
        t = t0 + rng.random() * span_s
        dt = datetime.fromtimestamp(int(t), tz=timezone.utc)
        ip = rng.choices(ips, cum_weights=cum)[0]
        uri = rng.choice(ENCODED) if rng.random() < 0.02 else rng.choice(PATHS)
        if "?" not in uri and rng.random() < 0.3:
            uri += f"?id={rng.randrange(10000)}"
        r = rng.random()
        fmt = "apache" if r < 0.7 else ("clf" if r < 0.85 else "iis")
        line = _line(fmt, dt, OFFSETS[f % len(OFFSETS)], ip, rng.choice(METHODS), uri,
                     rng.choice(STATUSES), size_for(f), rng.choice(REFERRERS),
                     rng.choice(AGENTS))
        rows[f].append((float(int(t)), "o", line))

    for f in range(files):
        off = OFFSETS[f % len(OFFSETS)]
        ua = AGENTS[0]
        # DirSearch: keyword probes interleaved with two misses, 5-20 s
        # apart, so all eight requests share one session (gap < 60 s).
        sip = scan_ip(f)
        t = float(int(t0 + rng.random() * (span_s - 3600)))
        uris = DIRSEARCH_URIS[:3] + ["/wp-login.php"] + DIRSEARCH_URIS[3:] + ["/admin.bak"]
        for uri in uris:
            t += rng.randrange(5, 20)
            dt = datetime.fromtimestamp(t, tz=timezone.utc)
            rows[f].append((t, "p", _line("apache", dt, off, sip, "GET", uri, 404,
                                          size_for(f), "-", "python-requests/2.31.0")))
        # Burst: BURST_SIZE status-500 POSTs at 0-1 s gaps, then one 200.
        bip = burst_ip(f)
        t = float(int(t0 + rng.random() * (span_s - 3600)))
        for _ in range(BURST_SIZE):
            t += rng.choice((0, 1, 1))
            dt = datetime.fromtimestamp(t, tz=timezone.utc)
            rows[f].append((t, "p", _line("apache", dt, off, bip, "POST", BURST_URI,
                                          500, size_for(f), "-", ua)))
        t += 3
        dt = datetime.fromtimestamp(t, tz=timezone.utc)
        rows[f].append((t, "p", _line("apache", dt, off, bip, "POST", BURST_URI, 200,
                                      size_for(f), "-", ua)))

    # Cross-source copies: a distinct original line, copied verbatim into
    # another file at its time position.
    originals = [(f, j) for f in range(files) for j, r in enumerate(rows[f]) if r[1] == "o"]
    for f, j in rng.sample(originals, n_copies):
        g = (f + rng.randrange(1, files)) % files
        t, _, line = rows[f][j]
        rows[g].append((t, "c", line))
    for k in range(n_garbage):
        f = rng.randrange(files)
        junk = "".join(rng.choice("abcdef0123456789") for _ in range(24))
        rows[f].append((t0 + rng.random() * span_s, "g", f"?? malformed request {k} {junk} !!"))

    for f in range(files):
        rows[f].sort(key=lambda r: r[0])
        with open(os.path.join(out_dir, f"access_{f}.log"), "w", newline="\n") as fp:
            fp.write("\n".join(r[2] for r in rows[f]))
            fp.write("\n")

    total = sum(len(r) for r in rows)
    return Truth(
        files=files,
        lines=total,
        garbage=n_garbage,
        cross_dups=n_copies,
        rows_after_dedup=total - n_garbage - n_copies,
        dirsearch_stamps=len(DIRSEARCH_URIS) * files,
        burst_success_rows=files,
        start_epoch=int(t0),
    )

