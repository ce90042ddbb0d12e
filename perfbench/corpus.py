"""Seeded workload corpora and their per-url goldens.

Every corpus is a pure function of ``(workload, seed, n_docs)``.  Payloads
are built with the public ``sources.fixtures`` writers; goldens are the
closed forms those writers guarantee:

* ``fixture_mix`` — ``make_pages_rows`` carries its own ``golden_text`` /
  ``golden_status`` per row;
* born-digital and scanned PDFs — the whitespace tokens paginated at
  ``WORDS_PER_PAGE`` and laid out at ``WORDS_PER_LINE`` words per line,
  each page rendered by ``fixtures.expected_text`` and the pages joined by
  ``PAGE_SEP`` (the ``extract_real_pdf`` / ``ocr_scanned`` oracles'
  token stream, here compared token for token per page: see
  :func:`same_output`).

The benchmark writes each input itself (one parquet file, one row group)
under a ``_SUCCESS`` marker, so the program's writers never decide the
input layout and a seed is generated once per ``(workload, seed, size)``.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil

#: Vocabulary and length range of ``documents.text`` in the sf0.1 test
#: tables (30 words, 10-100 words per document) — reproduced here so the
#: benchmark reads nothing outside its checkout.
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
MIN_WORDS, MAX_WORDS = 10, 100

WORDS_PER_LINE = 12
WORDS_PER_PAGE = 36
PAGE_SEP = "\f"

#: bump when a generator changes, so cached inputs are rebuilt
GENERATOR_VERSION = 3

#: born-digital document kinds (Helvetica, CID and symbolic TrueType,
#: empty-password RC4 and AES), as counts per block of 8 documents
BORN_DIGITAL_SLICES = (("plain", 4), ("cid", 1), ("symbolic", 1),
                       ("rc4", 1), ("aes", 1))


def _born_digital_kind(d: int) -> str:
    slot = d % 8
    for kind, count in BORN_DIGITAL_SLICES:
        if slot < count:
            return kind
        slot -= count
    raise AssertionError("slices must cover 8 slots")


def mixed_scan_kind(d: int) -> str:
    """Kind of slot ``d`` in the mixed born-digital/scanned corpus — the
    same shares as the repository's ``ocr_scanned`` corpus: even slots
    born-digital (split as ``BORN_DIGITAL_SLICES``), ``d % 4 == 3``
    FAKERAST, ``d % 4 == 1`` split across the pixel codecs.  The seed
    shuffles which document gets which slot."""
    if d % 2 == 0:
        return _born_digital_kind(d // 2)
    if d % 4 == 3:
        return "fakerast"
    return ("jpeg" if d % 32 == 5
            else "jpeglossy" if d % 32 == 13
            else "jpegcolor" if d % 32 == 21
            else "rgb" if d % 32 == 29
            else "ccitt" if d % 32 == 9
            else "g3" if d % 64 == 25
            else "g3mixed" if d % 64 == 57
            else "jbig2" if d % 64 == 17
            else "jbig2sym" if d % 128 == 49
            else "jbig2huffct" if d % 256 == 241
            else "jbig2huff" if d % 128 == 113
            else "jpxprec" if d % 256 == 225
            else "jpx" if d % 128 == 97
            else "gray1" if d % 64 == 33
            else "noisy" if d % 128 == 65 else "flate")


def _zipf_host(rng: random.Random, n_hosts: int = 50,
               zipf_a: float = 1.6) -> str:
    weights = [1.0 / (i + 1) ** zipf_a for i in range(n_hosts)]
    r = rng.random() * sum(weights)
    acc = 0.0
    for i, w in enumerate(weights):
        acc += w
        if r <= acc:
            return f"host{i:03d}.example"
    return f"host{n_hosts - 1:03d}.example"


def paged_golden(text: str) -> str:
    """Closed-form extraction of a paginated fixture PDF."""
    from pdf_ocr_engine_spark.sources.fixtures import expected_text

    toks = text.split()
    return PAGE_SEP.join(
        expected_text(toks[i:i + WORDS_PER_PAGE], WORDS_PER_LINE)
        for i in range(0, len(toks), WORDS_PER_PAGE))


def build_payload(kind: str, text: str) -> bytes:
    """One PDF payload of ``kind`` whose extraction is ``paged_golden``."""
    from pdf_ocr_engine_spark.sources import fixtures as fx

    args = (text, WORDS_PER_LINE, WORDS_PER_PAGE)
    if kind == "plain":
        return fx.text_to_real_pdf_payload(*args)
    if kind in ("cid", "symbolic"):
        return fx.text_to_truetype_pdf_payload(*args, variant=kind)
    if kind == "rc4":
        return fx.text_to_encrypted_pdf_payload(text, "rc4-128", *args[1:])
    if kind == "aes":
        return fx.text_to_encrypted_pdf_payload(text, "aes-128", *args[1:])
    if kind == "fakerast":
        return fx.text_to_scanned_pdf_payload(*args)
    return fx.text_to_pixel_scanned_pdf_payload(*args, codec=kind)


def _build_payloads(kinds: list[str], texts: list[str],
                    workers: int) -> list[bytes]:
    """Payload synthesis over ``workers`` processes (the pure-Python codec
    encoders dominate generation time)."""
    if workers <= 1:
        return [build_payload(k, t) for k, t in zip(kinds, texts)]
    from concurrent.futures import ProcessPoolExecutor

    with ProcessPoolExecutor(workers) as pool:
        return list(pool.map(build_payload, kinds, texts,
                             chunksize=max(1, len(kinds) // (8 * workers))))


def _balanced_lengths(rng: random.Random, kinds: list[str]) -> list[int]:
    """Word counts spread evenly over ``MIN_WORDS..MAX_WORDS`` within each
    document kind, in seeded order.  A kind's total work is then the same
    for every seed (a rare, costly codec slice would otherwise swing the
    whole corpus's cost with the lengths its few documents happen to
    draw); the seed still decides which document gets which length."""
    lengths = [0] * len(kinds)
    for kind in sorted(set(kinds)):
        idx = [i for i, k in enumerate(kinds) if k == kind]
        span = MAX_WORDS - MIN_WORDS
        grid = [MIN_WORDS + span * (2 * j + 1) // (2 * len(idx))
                for j in range(len(idx))]
        rng.shuffle(grid)
        for i, n_words in zip(idx, grid):
            lengths[i] = n_words
    return lengths


def _scanned_rows(n: int, seed: int, workers: int) -> list[dict]:
    rng = random.Random(seed)
    kinds = [mixed_scan_kind(d) for d in range(n)]
    rng.shuffle(kinds)
    texts = [" ".join(rng.choice(VOCAB) for _ in range(n_words))
             for n_words in _balanced_lengths(rng, kinds)]
    hosts = [_zipf_host(rng) for _ in range(n)]
    payloads = _build_payloads(kinds, texts, workers)
    t0 = dt.datetime(2025, 1, 1)
    return [{"url": f"https://{h}/scan/{k}/{i:06d}.pdf",
             "warc_ts": t0 + dt.timedelta(minutes=i),
             "html": p, "lang": "eng", "kind": k,
             "golden_status": "ok", "golden_text": paged_golden(t)}
            for i, (k, t, h, p) in enumerate(zip(kinds, texts, hosts,
                                                   payloads))]


def _fixture_rows(n: int, seed: int, workers: int) -> list[dict]:
    from pdf_ocr_engine_spark.sources.fixtures import make_pages_rows

    rows = make_pages_rows(n, seed)
    for r in rows:
        section = r["url"].split("/")[3]
        r["kind"] = {"html": "html", "pdf": "wbox"}.get(section, "edge")
    return rows


GENERATORS = {
    "fixture_mix": _fixture_rows,
    "scanned_ocr": _scanned_rows,
}


def materialize(corpus: str, seed: int, n_docs: int, work_dir: str,
                workers: int = 1) -> str:
    """Write ``pages.parquet`` (the program's only input) and
    ``golden.parquet`` for ``(corpus, seed, n_docs)`` unless a completed
    copy exists; returns the directory."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = os.path.join(work_dir, "inputs",
                       f"{corpus}-v{GENERATOR_VERSION}-n{n_docs}-s{seed}")
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rows = GENERATORS[corpus](n_docs, seed, workers)
    pages = pa.table({
        "url": pa.array([r["url"] for r in rows], pa.string()),
        "warc_ts": pa.array([r["warc_ts"] for r in rows], pa.timestamp("us")),
        "html": pa.array([r["html"] for r in rows], pa.binary()),
        "text": pa.array([""] * len(rows), pa.string()),
        "lang": pa.array([r["lang"] for r in rows], pa.string()),
    })
    golden = pa.table({
        "url": pa.array([r["url"] for r in rows], pa.string()),
        "kind": pa.array([r["kind"] for r in rows], pa.string()),
        "status": pa.array([r["golden_status"] for r in rows], pa.string()),
        "text": pa.array([r["golden_text"] for r in rows], pa.string()),
    })
    # one file, one row group: the layout is fixed here, not by a writer
    pq.write_table(pages, os.path.join(out, "pages.parquet"),
                   row_group_size=max(len(rows), 1))
    pq.write_table(golden, os.path.join(out, "golden.parquet"))
    open(os.path.join(out, "_SUCCESS"), "w").close()
    return out


def load_golden(input_dir: str) -> dict[str, tuple[str, str | None, str]]:
    """``url -> (status, text, kind)``."""
    import pyarrow.parquet as pq

    g = pq.read_table(os.path.join(input_dir, "golden.parquet")).to_pydict()
    return {u: (s, t, k) for u, s, t, k in
            zip(g["url"], g["status"], g["text"], g["kind"])}


def load_payloads(input_dir: str) -> dict[str, tuple[bytes, str]]:
    """``url -> (payload, lang)`` for the kernel-side sample."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(input_dir, "pages.parquet"),
                      columns=["url", "html", "lang"]).to_pydict()
    return {u: (h, lang) for u, h, lang in zip(t["url"], t["html"], t["lang"])}


#: kinds whose text is byte-exact by construction (WBOX grid, HTML).  The
#: other kinds are genuine PDFs: the parser recovers word widths from AFM
#: metrics at the fitted font size, so a gap the grid writes as a space can
#: classify as a tab — the ``extract_real_pdf`` / ``ocr_scanned`` oracles
#: compare whitespace-normalized tokens for that reason.  Here they must
#: match token for token on every page, with the same page count.
EXACT_KINDS = ("html", "wbox", "edge")


def same_output(golden_entry: tuple, status: str, text: str | None) -> bool:
    g_status, g_text, kind = golden_entry
    if status != g_status:
        return False
    if kind in EXACT_KINDS or text is None or g_text is None:
        return text == g_text
    pages, g_pages = text.split(PAGE_SEP), g_text.split(PAGE_SEP)
    return len(pages) == len(g_pages) and all(
        p.split() == q.split() for p, q in zip(pages, g_pages))


def count_mismatches(golden: dict, rows) -> tuple[int, int]:
    """``(mismatched, separator_only)`` over the golden's urls.

    ``rows`` yields ``(url, status, text)``.  A url mismatches when its
    output differs from the golden (see :func:`same_output`), is missing,
    or is output more than once; an output url absent from the golden
    counts once too.  ``separator_only`` counts matched urls whose text
    differs from the golden only in whitespace kind."""
    times: dict[str, int] = {}
    outputs: dict[str, tuple] = {}
    for url, status, text in rows:
        times[url] = times.get(url, 0) + 1
        outputs[url] = (status, text)
    bad = sum(1 for u in times if u not in golden)
    inexact = 0
    for url, g in golden.items():
        if times.get(url) != 1 or not same_output(g, *outputs[url]):
            bad += 1
        elif outputs[url][1] != g[1]:
            inexact += 1
    return bad, inexact

