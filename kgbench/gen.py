"""Seeded input generators.  Every input is written to disk before a
pass, so the program under test only ever receives files.

* :func:`write_warc_shard` — gzip-per-record WARC files of ``response``
  records, each an HTTP envelope around one ``rdf_spark.datagen.pages``
  HTML page (whose expected triples ``datagen.expected_triples`` knows).
* :func:`nt_dumps` — a base N-Triples dump with a stated duplicate
  share and a delta dump with a stated overlap, plus the canonical
  (post-parse) form of every distinct triple, computed here in plain
  Python as the oracle.
"""

from __future__ import annotations

import gzip
import os
import random
import uuid

XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_LANG_STRING = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"

# -- WARC --------------------------------------------------------------------


def _warc_record(url: str, date: str, rid: str, html: bytes) -> bytes:
    http = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
        + b"Content-Length: %d\r\n\r\n" % len(html) + html
    )
    head = (
        "WARC/1.0\r\nWARC-Type: response\r\n"
        f"WARC-Record-ID: <urn:uuid:{rid}>\r\nWARC-Date: {date}\r\n"
        f"WARC-Target-URI: {url}\r\n"
        "Content-Type: application/http; msgtype=response\r\n"
        f"Content-Length: {len(http)}\r\n\r\n"
    ).encode()
    return gzip.compress(head + http + b"\r\n\r\n", compresslevel=1, mtime=0)


def write_warc_shard(spark, out_dir: str, n_pages: int, seed: int,
                     n_files: int) -> dict:
    """Write ``n_pages`` datagen pages as ``n_files`` .warc.gz files.
    Returns the shard's sizes, including how many pages carry a
    malformed Turtle block (the pipeline must quarantine exactly those)."""
    from rdf_spark import datagen

    rows = (
        datagen.pages(spark, n_pages, seed)
        .selectExpr("url", "date_format(warc_ts, \"yyyy-MM-dd'T'HH:mm:ss'Z'\") AS d",
                    "html")
        .collect()
    )
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    outs = [open(os.path.join(out_dir, f"part-{i:03d}.warc.gz"), "wb")
            for i in range(n_files)]
    malformed = 0
    try:
        for i, r in enumerate(rows):
            html = bytes(r.html)
            malformed += b"<oops" in html
            rid = uuid.UUID(int=rng.getrandbits(128), version=4)
            outs[i % n_files].write(_warc_record(r.url, r.d, str(rid), html))
    finally:
        for f in outs:
            f.close()
    nbytes = sum(os.path.getsize(os.path.join(out_dir, f)) for f in os.listdir(out_dir))
    return {"pages": len(rows), "warc_bytes": nbytes, "files": n_files,
            "malformed_pages": malformed}


# -- N-Triples ---------------------------------------------------------------

_PREDS = [f"http://bench.example/vocab#p{i}" for i in range(12)]
_WORDS = ["alpha", "beta", "gamma", "delta", "été", "naïve", "Zürich",
          "quote\"d", "back\\slash", "line\nbreak", "tab\there", "東京"]
_LANGS = ["en", "de", "fr-CA", "en-US", "ja"]
_TYPES = [("integer", lambda r: str(r.randint(-10**6, 10**6))),
          ("decimal", lambda r: f"{r.randint(0, 99999)}.{r.randint(0, 99):02d}"),
          ("boolean", lambda r: r.choice(["true", "false"])),
          ("date", lambda r: f"20{r.randint(10, 29)}-{r.randint(1, 12):02d}-"
                             f"{r.randint(1, 28):02d}")]


def _escape(value: str, rng: random.Random, uescape: bool) -> str:
    """N-Triples string escaping; with ``uescape`` every non-ASCII and
    some ASCII letters are spelled as \\uXXXX (an equivalent surface form
    that must parse to the same term)."""
    out = []
    for ch in value:
        if ch == "\\":
            out.append("\\\\")
        elif ch == '"':
            out.append('\\"')
        elif ch == "\n":
            out.append("\\n")
        elif ch == "\t":
            out.append("\\t")
        elif uescape and (ord(ch) > 127 or (ch.isalpha() and rng.random() < 0.2)):
            out.append(f"\\u{ord(ch):04X}")
        else:
            out.append(ch)
    return "".join(out)


def _term_triple(i: int, rng: random.Random) -> tuple:
    """Distinct canonical triple number ``i`` (distinct by its subject or
    object index)."""
    if rng.random() < 0.1:
        s, s_kind = f"_:n{i // 3}", 0
    else:
        s, s_kind = f"http://bench.example/res/{i // 3}", 1
    p = _PREDS[i % len(_PREDS)]
    kind = rng.random()
    if kind < 0.3:
        return (s, s_kind, p, f"http://bench.example/res/o{i}", 1, None, None)
    if kind < 0.35:
        return (s, s_kind, p, f"_:o{i}", 0, None, None)
    word = rng.choice(_WORDS)
    if kind < 0.6:
        return (s, s_kind, p, f"{word} {i}", 2, XSD + "string", None)
    if kind < 0.8:
        return (s, s_kind, p, f"{word} {i}", 2, RDF_LANG_STRING, rng.choice(_LANGS))
    dt, make = rng.choice(_TYPES)
    return (s, s_kind, p, f"{make(rng)}", 2, XSD + dt, None)


def _nt_line(t: tuple, rng: random.Random, uescape: bool) -> str:
    s, s_kind, p, o, o_kind, dt, lang = t
    subj = s if s_kind == 0 else f"<{s}>"
    if o_kind == 1:
        obj = f"<{o}>"
    elif o_kind == 0:
        obj = o
    else:
        lit = f'"{_escape(o, rng, uescape)}"'
        if lang:
            obj = f"{lit}@{lang}"
        elif dt == XSD + "string" and rng.random() < 0.5:
            obj = lit
        else:
            obj = f"{lit}^^<{dt}>"
    return f"{subj} <{p}> {obj} ."


_MALFORMED = ["<http://bench.example/broken> <http://bench.example/p> .",
              '<http://bench.example/x> "not a predicate" <http://bench.example/y> .',
              "this is not n-triples",
              '<http://bench.example/x> <http://bench.example/p> "unterminated .']


def nt_dumps(out_dir: str, n_distinct: int, dup_share: float, n_delta: int,
             overlap: float, malformed_share: float, seed: int,
             n_files: int, in_delta) -> dict:
    """Write ``base/`` and ``delta/`` N-Triples dumps.

    The base holds ``n_distinct`` distinct triples spread over
    ``n_distinct / (1 - dup_share)`` valid lines (duplicates may use a
    different but equivalent escape spelling) plus malformed lines.  The
    delta holds ``n_delta`` distinct triples, ``overlap`` of which are
    already in the base; ``in_delta(subjects)`` returns the subjects the
    delta may use (the store's bucketing is not known here).  Returns
    sizes and the oracle sets."""
    rng = random.Random(seed)
    base = [_term_triple(i, rng) for i in range(n_distinct)]
    n_lines = round(n_distinct / (1.0 - dup_share))
    lines = [_nt_line(t, rng, False) for t in base]
    for _ in range(n_lines - n_distinct):
        lines.append(_nt_line(base[rng.randrange(n_distinct)], rng,
                              rng.random() < 0.5))
    n_bad = round(len(lines) * malformed_share)
    lines.extend(rng.choice(_MALFORMED) for _ in range(n_bad))
    rng.shuffle(lines)

    n_old = round(n_delta * overlap)
    fresh: list[tuple] = []
    i = n_distinct
    while len(fresh) < n_delta - n_old:
        batch = [_term_triple(i + k, rng) for k in range(4 * n_delta)]
        i += len(batch)
        ok = in_delta({t[0] for t in batch})
        fresh += [t for t in batch if t[0] in ok][:n_delta - n_old - len(fresh)]
    ok = in_delta({t[0] for t in base})
    delta = fresh + rng.sample([t for t in base if t[0] in ok], n_old)
    delta_lines = [_nt_line(t, rng, rng.random() < 0.3) for t in delta]
    rng.shuffle(delta_lines)

    sizes = {}
    for name, ls, nf in (("base", lines, n_files), ("delta", delta_lines, 2)):
        d = os.path.join(out_dir, name)
        os.makedirs(d, exist_ok=True)
        per = -(-len(ls) // nf)
        for k in range(nf):
            with open(os.path.join(d, f"part-{k:03d}.nt"), "w", encoding="utf-8") as f:
                f.write("\n".join(ls[k * per:(k + 1) * per]) + "\n")
        sizes[name + "_bytes"] = sum(
            os.path.getsize(os.path.join(d, x)) for x in os.listdir(d))
    return {
        "base_lines": len(lines), "base_distinct": n_distinct,
        "base_malformed": n_bad, "delta_lines": len(delta_lines),
        "delta_new": len(fresh), **sizes,
        "union": base + fresh,
    }
