"""Micro-benchmarks: the reference's divan scenario set re-expressed
for the Python kernel (single-core, compiled-pattern-reused — the same
protocol as /root/reference/benches/{apache,log,simple,pattern}.rs).

Prints one JSON line {scenario: microseconds_per_op} and, with
--write, records BENCH/MICRO.md.
"""

from __future__ import annotations

import json
import os
import platform
import sys
import time

from grokspark import GrokRegistry

APACHE_LINE = (
    '220.181.108.96 - - [13/Jun/2015:21:14:28 +0000] "GET /blog/geekery/solving-good-or-bad-problems.html'
    '?utm_source=feedburner&utm_medium=feed&utm_campaign=Feed%3A+semicomplete%2Fmain+'
    '%28semicomplete.com+-+Jordan+Sissel%29 HTTP/1.1" 200 10975 "-" '
    '"Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko) '
    'Chrome/32.0.1700.107 Safari/537.36"'
)
APACHE_EXPR = (
    r"%{IPORHOST:clientip} %{USER:ident} %{USER:auth} \[%{HTTPDATE:timestamp}\] "
    r'"(?:%{WORD:verb} %{NOTSPACE:request}(?: HTTP/%{NUMBER:httpversion})?|%{DATA:rawrequest})" '
    r"%{NUMBER:response} (?:%{NUMBER:bytes}|-) %{QS:referrer} %{QS:agent}"
)
ELB_LINE = (
    "2015-05-13T23:39:43.945958Z my-loadbalancer 192.168.131.39:2817 "
    "10.0.0.1:80 0.000073 0.001048 0.000057 200 200 0 29 "
    '"GET https://example.com:443/ HTTP/1.1"'
)
LOG_EXPR = (
    r"%{TIMESTAMP_ISO8601:timestamp} \[%{IPV4:ip}:%{WORD:environment}\] "
    r"%{LOGLEVEL:log_level} %{GREEDYDATA:message}"
)
LOG_LINE = "2016-09-19T18:19:00 [8.8.8.8:prd] DEBUG this is an example log message"
LOG_NOMATCH = "foo bar baz nothing to see here move along: 18:19:00 [8.8.8.8:prd]"


def bench(fn, min_sec: float = 0.4) -> float:
    """Microseconds per op, best of 3 timing windows."""
    best = float("inf")
    for _ in range(3):
        n = 0
        t0 = time.perf_counter()
        while True:
            fn()
            n += 1
            dt = time.perf_counter() - t0
            if dt >= min_sec:
                break
        best = min(best, dt / n * 1e6)
    return best


def scenarios() -> dict[str, float]:
    g = GrokRegistry.with_default_patterns()
    out: dict[str, float] = {}

    apache = g.compile(APACHE_EXPR)
    apache_anch = g.compile("^" + APACHE_EXPR + "$")
    nomatch_start = "xxx" + APACHE_LINE[3:]
    nomatch_middle = APACHE_LINE.replace('"GET', "_GET", 1)
    nomatch_end = APACHE_LINE[:-1] + "\x00"
    out["apache_match"] = bench(lambda: apache.match_against(APACHE_LINE))
    # the capture-free twin (is_match): what route_match_counts runs
    out["apache_match_only"] = bench(lambda: apache.is_match(APACHE_LINE))
    out["apache_match_anchored"] = bench(lambda: apache_anch.match_against(APACHE_LINE))
    out["apache_no_match_start"] = bench(lambda: apache.match_against(nomatch_start))
    out["apache_no_match_middle"] = bench(lambda: apache.match_against(nomatch_middle))
    out["apache_no_match_end"] = bench(lambda: apache.match_against(nomatch_end))
    out["apache_no_match_start_anchored"] = bench(
        lambda: apache_anch.match_against(nomatch_start)
    )

    elb = g.compile("%{ELB_ACCESS_LOG}")
    out["elb_match"] = bench(lambda: elb.match_against(ELB_LINE))
    out["elb_match_only"] = bench(lambda: elb.is_match(ELB_LINE))

    log = g.compile(LOG_EXPR)
    log_anch = g.compile("^" + LOG_EXPR + "$")
    out["log_match"] = bench(lambda: log.match_against(LOG_LINE))
    out["log_no_match"] = bench(lambda: log.match_against(LOG_NOMATCH))
    out["log_match_anchored"] = bench(lambda: log_anch.match_against(LOG_LINE))
    out["log_no_match_anchored"] = bench(lambda: log_anch.match_against(LOG_NOMATCH))

    simple_reg = GrokRegistry({"USERNAME": r"[a-zA-Z0-9._-]+"})
    simple = simple_reg.compile("%{USERNAME}")
    simple_anch = simple_reg.compile("^%{USERNAME}$")
    out["simple_match"] = bench(lambda: simple.match_against("user123"))
    out["simple_no_match"] = bench(lambda: simple.match_against("!!!###!!!"))
    out["simple_match_anchored"] = bench(lambda: simple_anch.match_against("user123"))
    out["simple_no_match_anchored"] = bench(lambda: simple_anch.match_against("user 123"))

    out["registry_default_construction"] = bench(GrokRegistry.with_default_patterns)
    out["compile_bacula_full"] = bench(lambda: g.compile("%{BACULA_LOGLINE}"))
    out["compile_bacula_alias_only"] = bench(lambda: g.compile("%{BACULA_LOGLINE}", True))

    # SimHash kernel: scalar reference vs the vectorized batch used by
    # the Spark UDF (single core, µs per document on a 60-word doc —
    # the batch path must stay >= 5x the scalar one)
    import random

    from grokspark.operators.dedup import simhash_batch, simhash_py

    rng = random.Random(42)
    vocab = [f"word{i:03d}" for i in range(400)] + ["the", "and", "of", "für"]
    docs = [" ".join(rng.choices(vocab, k=60)) for _ in range(512)]

    def scalar_all():
        for d in docs:
            simhash_py(d)

    out["simhash_scalar_per_doc"] = bench(scalar_all) / len(docs)
    out["simhash_batch_per_doc"] = bench(lambda: simhash_batch(docs)) / len(docs)

    # peak transient memory of the batch kernel per word (numpy
    # allocations are tracemalloc-tracked). Measured composition on
    # these docs: the uint8 unpackbits bit matrix is 64 B/word; the
    # rest is the per-word bytes objects + the FNV flat buffer's
    # uint64 conversion — ~640 B/word total. The int64 bit-matrix
    # formulation this replaced peaked ~1080 B/word (512 B matrix plus
    # its transient uint64 broadcast); the bound guards that
    # regression class.
    import tracemalloc

    n_words = sum(len(d.split()) for d in docs)
    tracemalloc.start()
    simhash_batch(docs)
    _cur, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    per_word = peak / n_words
    out["simhash_batch_peak_bytes_per_word"] = per_word
    assert per_word < 800, (
        f"simhash_batch peak {per_word:.0f} B/word — bit-matrix memory "
        f"regression (uint8 formulation measures ~640 on this corpus)"
    )

    return out


def _cpu_model() -> str:
    """The CPU model name from /proc/cpuinfo (Linux), else platform's."""
    try:
        with open("/proc/cpuinfo", encoding="utf-8") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "unknown CPU"


def main() -> None:
    out = {k: round(v, 2) for k, v in scenarios().items()}
    print(json.dumps(out))
    if "--write" in sys.argv:
        from pathlib import Path

        lines = ["# BENCH/MICRO — kernel micro-benchmarks", "",
                 "Single-core, compiled pattern reused (the reference's divan",
                 "protocol, /root/reference/benches/). Values are µs/op.", "",
                 "`*_match_only` runs the capture-free twin (`is_match`).", "",
                 f"Recorded on: {_cpu_model()}, {os.cpu_count()} logical CPUs, "
                 f"Python {platform.python_version()}.", "",
                 "| scenario | µs/op |", "|---|---|"]
        for k, v in out.items():
            lines.append(f"| {k} | {v} |")
        Path("BENCH").mkdir(exist_ok=True)
        Path("BENCH/MICRO.md").write_text("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
