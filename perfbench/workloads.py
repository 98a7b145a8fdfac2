"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: numpy's PCG64 stream
drives all choices and pyarrow writes the parquet, so the same seed gives
byte-identical files. The program under test only ever sees these files.

- ``dns_feedback_day``: one DNS day from a small client population mixing
  benign, CDN, DGA-like and reverse-lookup names, plus a top-domains list
  and a severity-3 analyst feedback TSV.
- ``curate_corpus``: a text corpus with planted near-duplicate copies,
  low-quality documents and documents quoting an eval set, plus the eval
  parquet and frozen ``(bucket, w_micro)`` model weights.
"""

from __future__ import annotations

import os
import string
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from oni_ml_spark.schemas import DNS_FEEDBACK_COLUMNS

# input rows are spread over a fixed number of files, independent of the
# host, so the same seed yields the same files everywhere
N_PARTS = 4
DAY = (2016, 5, 5)
DAY_EPOCH = 1462406400  # 2016-05-05 00:00:00 UTC


@dataclass
class Inputs:
    """Paths of one workload's generated files, plus what the output checks
    need to know about them."""

    files: dict[str, str]
    planted_copies: list[int] = field(default_factory=list)


def _write_parts(table: pa.Table, directory: str) -> None:
    os.makedirs(directory, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, N_PARTS + 1).astype(int)
    for i in range(N_PARTS):
        pq.write_table(
            table.slice(bounds[i], bounds[i + 1] - bounds[i]),
            os.path.join(directory, f"part-{i:05d}.parquet"),
            compression="snappy",
        )


def _zipf_choice(rng: np.random.Generator, n_items: int, size: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n_items + 1) ** s
    return rng.choice(n_items, size=size, p=p / p.sum())


def _ipv4(prefix: str, idx: np.ndarray) -> list[str]:
    return [f"{prefix}.{(i >> 8) & 255}.{i & 255}" for i in idx.tolist()]


def _hms(secs: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    return secs // 3600, (secs // 60) % 60, secs % 60


# Sizes. Each analysis issues a near-fixed number of Spark jobs (LDA
# iterations, quantile cuts, the curation stages' internal passes), so at
# these sizes its time is mostly per-job and planning cost rather than
# per-row work (README.md has the measured split). They are chosen so one
# benchmark run, a cold and a warm analysis included, takes about a minute
# on a 4-core host.
DNS_ROWS, DNS_CLIENTS, DNS_FEEDBACK_ROWS = 6_000, 800, 100
CURATE_DOCS = 400
# must equal the curation CLI's --n-buckets (its default)
CURATE_BUCKETS = 4096


# --- dns_feedback_day -----------------------------------------------------------

_SYLLABLES = ["ka", "lo", "mi", "ne", "ra", "to", "su", "vi", "da", "pe",
              "go", "ba", "ri", "zu", "fe", "mo", "ta", "li", "ce", "no"]
_TLDS = ["com", "net", "org", "info", "io", "ru", "co.uk", "de"]
_HOSTS = ["www", "mail", "api", "cdn", "static", "login", "m", "img"]


def _word(rng: np.random.Generator, lo: int, hi: int) -> str:
    return "".join(rng.choice(_SYLLABLES, size=int(rng.integers(lo, hi + 1))))


def _dns_names(rng: np.random.Generator, n: int, benign: list[str]) -> tuple[list[str], np.ndarray, np.ndarray]:
    """(query names, qtypes, rcodes) for n queries."""
    kind = rng.choice(4, size=n, p=[0.6, 0.2, 0.1, 0.1])
    b_idx = _zipf_choice(rng, len(benign), n, 1.0)
    host = rng.integers(0, len(_HOSTS), n)
    cdn_n = rng.integers(0, 1 << 20, n)
    octets = rng.integers(1, 255, size=(n, 4))
    letters = np.array(list(string.ascii_lowercase + string.digits))
    dga_len = rng.integers(10, 21, n)
    dga_tld = rng.integers(0, len(_TLDS), n)
    names, qtype, rcode = [], np.ones(n, np.int64), np.zeros(n, np.int64)
    for i in range(n):
        k = kind[i]
        if k == 0:
            names.append(f"{_HOSTS[host[i]]}.{benign[b_idx[i]]}")
        elif k == 1:
            c = cdn_n[i]
            names.append(
                (f"e{c % 9999}.a.akamaiedge.net", f"d{c:x}.cloudfront.net",
                 f"r{c % 20}---sn-{c % 977:x}q.googlevideo.com")[c % 3]
            )
        elif k == 2:
            names.append("".join(rng.choice(letters, size=dga_len[i])) + "." + _TLDS[dga_tld[i]])
            rcode[i] = 3 if rng.random() < 0.8 else 0
        else:
            a, b, c, d = octets[i]
            names.append(f"{d}.{c}.{b}.{a}.in-addr.arpa")
            qtype[i] = 12
    aaaa = (kind < 2) & (rng.random(n) < 0.2)
    qtype[aaaa] = 28
    return names, qtype, rcode


def _frame_time(ts: np.ndarray) -> list[str]:
    return [f"May  5, 2016 {h:02d}:{m:02d}:{s:02d}.000000000 UTC"
            for h, m, s in zip(*(a.tolist() for a in _hms(ts - DAY_EPOCH)))]


def dns_feedback_day(seed: int, root: str) -> Inputs:
    n_queries, n_clients, n_feedback = DNS_ROWS, DNS_CLIENTS, DNS_FEEDBACK_ROWS
    rng = np.random.default_rng([seed, 2])
    benign = sorted({f"{_word(rng, 2, 4)}.{_TLDS[i % 3]}" for i in range(400)})
    names, qtype, rcode = _dns_names(rng, n_queries, benign)
    client = _zipf_choice(rng, n_clients, n_queries, 0.8)
    ip_dst = _ipv4("192.168", rng.permutation(1 << 16)[client])
    ts = DAY_EPOCH + np.sort(rng.integers(0, 86400, n_queries))
    frame_len = (60 + rng.lognormal(3.5, 0.6, n_queries)).astype(np.int64) + np.array(
        [len(s) for s in names])
    table = pa.table({
        "frame_time": pa.array(_frame_time(ts), pa.string()),
        "unix_tstamp": pa.array(ts, pa.int64()),
        "frame_len": pa.array(frame_len, pa.int32()),
        "ip_dst": pa.array(ip_dst, pa.string()),
        "ip_src": pa.array(np.full(n_queries, "10.0.0.53"), pa.string()),
        "dns_qry_name": pa.array(names, pa.string()),
        "dns_qry_class": pa.array(np.full(n_queries, "0x00000001"), pa.string()),
        "dns_qry_type": pa.array(qtype, pa.int32()),
        "dns_qry_rcode": pa.array(rcode, pa.int32()),
        "dns_a": pa.array(np.where(rcode == 0, "93.184.216.34", ""), pa.string()),
    })
    path = os.path.join(root, "dns")
    _write_parts(table, path)

    # Alexa-style "rank,domain" list: two thirds of the benign names
    top = os.path.join(root, "top-1m.csv")
    with open(top, "w") as f:
        for rank, name in enumerate(benign[: 2 * len(benign) // 3], 1):
            f.write(f"{rank},{name}\n")

    # analyst feedback: rows copied from the day, most marked severity 3
    # (confirmed benign, oversampled by the CLI's --dupfactor), the rest
    # severity 1/2, which the pipeline must filter out
    fb_rows = rng.choice(n_queries, size=n_feedback, replace=False)
    sev = np.where(rng.random(n_feedback) < 0.75, 3, rng.integers(1, 3, n_feedback))
    feedback = os.path.join(root, "dns_scores.tsv")
    cols = table.to_pydict()
    with open(feedback, "w") as f:
        f.write("\t".join(DNS_FEEDBACK_COLUMNS) + "\n")
        for r, s in zip(fb_rows.tolist(), sev.tolist()):
            row = dict.fromkeys(DNS_FEEDBACK_COLUMNS, "")
            for c in ("frame_time", "frame_len", "ip_dst", "dns_qry_name",
                      "dns_qry_class", "dns_qry_type", "dns_qry_rcode", "unix_tstamp"):
                row[c] = str(cols[c][r])
            row["dns_sev"] = str(s)
            f.write("\t".join(row[c] for c in DNS_FEEDBACK_COLUMNS) + "\n")
    return Inputs({"input": path, "topdomains": top, "feedback": feedback})


# --- curate_corpus --------------------------------------------------------------

STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with", "this",
             "from", "they", "will", "would", "there", "their", "what", "about",
             "which", "when", "make", "can", "like", "time", "just", "know"]
BOILERPLATE = ["Click here to subscribe", "Cookie settings", "Share this",
               "Log in", "javascript is disabled in your browser"]


def _sentence(rng: np.random.Generator, vocab: list[str], p: np.ndarray) -> str:
    n = int(rng.integers(8, 17))
    words = [vocab[i] for i in rng.choice(len(vocab), size=n, p=p)]
    return words[0].capitalize() + " " + " ".join(words[1:]) + "."


def curate_corpus(seed: int, root: str) -> Inputs:
    n_docs, n_buckets = CURATE_DOCS, CURATE_BUCKETS
    rng = np.random.default_rng([seed, 3])
    content = sorted({_word(rng, 2, 4) for _ in range(3000)})
    vocab = STOPWORDS + content
    p = 1.0 / np.arange(1, len(vocab) + 1) ** 0.9
    p /= p.sum()

    eval_texts = [" ".join(_sentence(rng, vocab, p) for _ in range(3)) for _ in range(40)]

    n_copies = n_docs // 10
    n_orig = n_docs - n_copies
    texts: list[str] = []
    for i in range(n_orig):
        kind = rng.random()
        if kind < 0.05:      # too short for the Gopher token floor
            texts.append(_sentence(rng, vocab, p))
            continue
        if kind < 0.08:      # boilerplate only: C4 line cleaning empties it
            texts.append("\n".join(rng.choice(BOILERPLATE, size=6)))
            continue
        lines = [_sentence(rng, vocab, p) for _ in range(int(rng.integers(6, 12)))]
        if kind < 0.11:      # long-token gibberish: fails mean token length
            lines = [" ".join(w * 4 for w in ln.split()) for ln in lines]
        elif kind < 0.16:    # quotes an eval document: decontamination target
            lines.insert(int(rng.integers(0, len(lines))), eval_texts[int(rng.integers(0, 40))])
        elif kind < 0.30:    # boilerplate lines mixed into real text
            lines.insert(int(rng.integers(0, len(lines))), str(rng.choice(BOILERPLATE)))
        texts.append("\n".join(lines))
    # near-duplicate copies of earlier documents, one word swapped; a copy's
    # id is always larger than its original's, so the copy is the one
    # near-dup removal drops
    originals = rng.choice(n_orig, size=n_copies, replace=False)
    for o in originals.tolist():
        words = texts[o].split(" ")
        j = int(rng.integers(0, len(words)))
        words[j] = vocab[int(rng.integers(len(STOPWORDS), len(vocab)))]
        texts.append(" ".join(words))

    docs = pa.table({"doc_id": pa.array(np.arange(n_docs), pa.int64()),
                     "text": pa.array(texts, pa.string())})
    raw = os.path.join(root, "raw")
    _write_parts(docs, raw)
    evalp = os.path.join(root, "eval")
    _write_parts(pa.table({"doc_id": pa.array(np.arange(len(eval_texts)), pa.int64()),
                           "text": pa.array(eval_texts, pa.string())}), evalp)
    # frozen hashed-linear weights: every bucket, integer micro-units,
    # biased positive so most clean documents pass a zero threshold
    model = os.path.join(root, "model")
    _write_parts(pa.table({
        "bucket": pa.array(np.arange(n_buckets), pa.int64()),
        "w_micro": pa.array(rng.integers(-800, 1201, n_buckets), pa.int64()),
    }), model)
    return Inputs({"input": raw, "eval": evalp, "model": model},
                  planted_copies=list(range(n_orig, n_docs)))
