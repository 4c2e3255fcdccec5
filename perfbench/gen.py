"""Seeded input generators for the three benchmark workloads.

Every document is built here byte by byte together with the text the
extractor is expected to return for it, the way the package's golden
fixtures are: the expectation is written down from the document's design,
never read back from the extractor. The same seed gives byte-identical
tables; aggregate load (document count and payload bytes per kind) is
fixed, so seeds differ in content and layout but not in total work.
"""

from __future__ import annotations

import base64
import hashlib
import io
import os
import struct
import zipfile
import zlib

import numpy as np

from b2xtranslator_spark.operators.textstats import STOPWORDS
from b2xtranslator_spark.sources.binfixtures import make_cfb

PAYLOAD_PREFIX = "b64cfb:"  # the pipeline's binary payload contract
FILLER = [
    "ok, looking into it now",
    "here is the summary you asked for",
    "running the conversion tool on the attachment",
    "can you re-send the document?",
    "done - see extracted text below",
]
EN_STOP = STOPWORDS["en"]
DE_STOP = STOPWORDS["de"]
EN_STOP_ARR = np.array(EN_STOP, dtype=object)

# -- vocabulary and text ---------------------------------------------------

_CONS = "bcdfghklmnprstvz"
_VOW = "aeiou"


def vocabulary(rng: np.random.Generator, n: int = 6000) -> np.ndarray:
    """Pseudo-words of 4-9 ASCII letters, none a stopword of any language
    the corpus filter knows, so language and quality decisions are set by
    the stopwords the generator plants."""
    stop = {w for ws in STOPWORDS.values() for w in ws}
    words: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(2, 5))
        w = "".join(
            _CONS[int(rng.integers(len(_CONS)))] + _VOW[int(rng.integers(len(_VOW)))]
            for _ in range(k)
        )
        if int(rng.integers(2)):
            w += _CONS[int(rng.integers(len(_CONS)))]
        if w not in stop:
            words.add(w)
    return np.array(sorted(words), dtype=object)


def _words(rng, vocab, n_words: int) -> np.ndarray:
    words = vocab[rng.integers(0, len(vocab), n_words)]
    # an English stopword every fourth word keeps the quality and language
    # signals realistic without repeating bigrams
    pos = np.arange(2, n_words, 4)
    words[pos] = EN_STOP_ARR[rng.integers(0, len(EN_STOP), len(pos))]
    return words


def sentence(rng, vocab, n_words: int) -> str:
    return " ".join(_words(rng, vocab, n_words))


def lines_for(rng, vocab, n_chars: int) -> list[str]:
    """Lines of 6-15 words totalling about n_chars characters."""
    words = _words(rng, vocab, max(6, n_chars // 7))
    cuts = np.cumsum(rng.integers(6, 16, len(words) // 6 + 1))
    cuts = cuts[cuts < len(words)]
    return [" ".join(c) for c in np.split(words, cuts) if len(c)]


# -- format builders: (payload bytes, expected text) ------------------------


def build_html(lines):
    body = "".join(f"<p>{ln}</p>" for ln in lines[1:])
    html = (
        "<!DOCTYPE html><html><head><title>skip</title>"
        "<style>p{margin:0}</style></head><body>"
        f"<nav><a href='/'>Home</a></nav><h1>{lines[0]}</h1>{body}"
        "<footer>(c) nobody</footer><script>x()</script></body></html>"
    )
    return html.encode("ascii"), "\n".join(lines)


def build_pdf(lines, per_page: int = 40):
    pages = [lines[i : i + per_page] for i in range(0, len(lines), per_page)]
    objs = {1: None, 2: None}
    kids = []
    num = 3
    for page in pages:
        ops = "BT /F1 12 Tf " + " 0 -14 Td ".join(f"({ln}) Tj" for ln in page) + " ET"
        data = zlib.compress(ops.encode("ascii"))
        objs[num] = f"<</Type/Page/Parent 2 0 R/Contents {num + 1} 0 R>>".encode()
        objs[num + 1] = (
            f"<</Length {len(data)}/Filter/FlateDecode>>stream\n".encode()
            + data + b"\nendstream"
        )
        kids.append(f"{num} 0 R")
        num += 2
    objs[1] = b"<</Type/Catalog/Pages 2 0 R>>"
    objs[2] = f"<</Type/Pages/Kids[{' '.join(kids)}]/Count {len(kids)}>>".encode()
    out = [b"%PDF-1.4\n"]
    for k in sorted(objs):
        out.append(f"{k} 0 obj\n".encode() + objs[k] + b"\nendobj\n")
    out.append(b"trailer<</Root 1 0 R>>\n%%EOF\n")
    return b"".join(out), "\n".join("\n".join(p) for p in pages)


def build_rtf(lines):
    body = "\\par ".join(lines)
    rtf = (
        "{\\rtf1\\ansi\\ansicpg1252\\deff0{\\fonttbl{\\f0\\fswiss Arial;}}"
        "{\\info{\\title skip me}}\\f0\\fs24 " + body + "}"
    )
    return rtf.encode("ascii"), "\n".join(lines)


def build_eml(lines):
    head = (
        "From: sender@example.com\r\nTo: corpus@example.com\r\n"
        f"Subject: {lines[0]}\r\nDate: Mon, 02 Feb 2026 10:00:00 +0000\r\n"
        "MIME-Version: 1.0\r\nContent-Type: text/plain; charset=utf-8\r\n\r\n"
    )
    eml = head + "\r\n".join(lines[1:]) + "\r\n"
    expected = (
        "From: sender@example.com\nTo: corpus@example.com\n"
        f"Subject: {lines[0]}\nDate: Mon, 02 Feb 2026 10:00:00 +0000\n"
        + "\n".join(lines[1:])
    )
    return eml.encode("ascii"), expected


def build_text(lines):
    return ("\n".join(lines) + "\n").encode("utf-8"), "\n".join(lines)


def _zip(members: list[tuple[str, str, bool]]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data, stored in members:
            info = zipfile.ZipInfo(name, date_time=(2026, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_STORED if stored else zipfile.ZIP_DEFLATED
            zf.writestr(info, data)
    return buf.getvalue()


_W_NS = 'xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main"'
_S_NS = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
_R_NS = 'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"'
_A_NS = 'xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main"'
_P_NS = 'xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main"'
_REL_NS = 'xmlns="http://schemas.openxmlformats.org/package/2006/relationships"'
_ODF_NS = (
    'xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" '
    'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0"'
)


def build_docx(lines):
    body = "".join(f"<w:p><w:r><w:t>{ln}</w:t></w:r></w:p>" for ln in lines)
    doc = (
        f'<?xml version="1.0"?><w:document {_W_NS} {_R_NS}>'
        f"<w:body>{body}</w:body></w:document>"
    )
    payload = _zip(
        [("[Content_Types].xml", "<Types/>", False), ("word/document.xml", doc, False)]
    )
    return payload, "\n".join(lines)


def build_xlsx(lines, sheet="Data"):
    rows = "".join(
        f'<row r="{r + 1}">'
        + "".join(
            f'<c t="inlineStr"><is><t>{cell}</t></is></c>' for cell in _cells(ln)
        )
        + "</row>"
        for r, ln in enumerate(lines)
    )
    wb = (
        f'<?xml version="1.0"?><workbook {_S_NS} {_R_NS}><sheets>'
        f'<sheet name="{sheet}" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    rels = (
        f'<?xml version="1.0"?><Relationships {_REL_NS}>'
        '<Relationship Id="rId1" Target="worksheets/sheet1.xml" Type="w"/>'
        "</Relationships>"
    )
    ws = f'<?xml version="1.0"?><worksheet {_S_NS}><sheetData>{rows}</sheetData></worksheet>'
    payload = _zip(
        [
            ("[Content_Types].xml", "<Types/>", False),
            ("xl/workbook.xml", wb, False),
            ("xl/_rels/workbook.xml.rels", rels, False),
            ("xl/worksheets/sheet1.xml", ws, False),
        ]
    )
    return payload, sheet + "\n" + "\n".join("\t".join(_cells(ln)) for ln in lines)


def _cells(line: str) -> list[str]:
    """A spreadsheet row: the line's words in cells of up to four."""
    w = line.split(" ")
    return [" ".join(w[i : i + 4]) for i in range(0, len(w), 4)]


def build_pptx(lines, per_slide: int = 12):
    slides = [lines[i : i + per_slide] for i in range(0, len(lines), per_slide)]
    members = [
        ("[Content_Types].xml", "<Types/>", False),
        ("ppt/presentation.xml", "<p/>", False),
    ]
    for k, paras in enumerate(slides, 1):
        body = "".join(f"<a:p><a:r><a:t>{p}</a:t></a:r></a:p>" for p in paras)
        members.append(
            (
                f"ppt/slides/slide{k}.xml",
                f'<?xml version="1.0"?><p:sld {_P_NS} {_A_NS}><p:cSld><p:spTree>'
                f"<p:sp><p:txBody>{body}</p:txBody></p:sp></p:spTree></p:cSld></p:sld>",
                False,
            )
        )
    return _zip(members), "\n".join(lines)


def build_odt(lines):
    body = "".join(f"<text:p>{ln}</text:p>" for ln in lines)
    content = (
        f'<?xml version="1.0" encoding="UTF-8"?><office:document-content {_ODF_NS}>'
        f"<office:body><office:text>{body}</office:text></office:body>"
        "</office:document-content>"
    )
    payload = _zip(
        [
            ("mimetype", "application/vnd.oasis.opendocument.text", True),
            ("content.xml", content, False),
        ]
    )
    return payload, "\n".join(lines)


def build_epub(lines, per_chapter: int = 30):
    chapters = [lines[i : i + per_chapter] for i in range(0, len(lines), per_chapter)]
    items = "".join(
        f'<item id="c{k}" href="ch{k}.xhtml" media-type="application/xhtml+xml"/>'
        for k in range(len(chapters))
    )
    spine = "".join(f'<itemref idref="c{k}"/>' for k in range(len(chapters)))
    members = [
        ("mimetype", "application/epub+zip", True),
        (
            "META-INF/container.xml",
            '<?xml version="1.0"?>'
            '<container xmlns="urn:oasis:names:tc:opendocument:xmlns:container">'
            '<rootfiles><rootfile full-path="OEBPS/content.opf" '
            'media-type="application/oebps-package+xml"/></rootfiles></container>',
            False,
        ),
        (
            "OEBPS/content.opf",
            '<?xml version="1.0"?><package xmlns="http://www.idpf.org/2007/opf" '
            f'version="3.0"><manifest>{items}</manifest><spine>{spine}</spine></package>',
            False,
        ),
    ]
    for k, ch in enumerate(chapters):
        paras = "".join(f"<p>{ln}</p>" for ln in ch)
        members.append((f"OEBPS/ch{k}.xhtml", f"<html><body>{paras}</body></html>", False))
    return _zip(members), "\n".join(lines)


# BIFF8 / PPT records for the CFB kinds (make_cfb holds one FAT sector, so
# the container stays under ~60 KB)


def _rec(rid: int, payload: bytes) -> bytes:
    return struct.pack("<HH", rid, len(payload)) + payload


def _bof(dt: int) -> bytes:
    return _rec(0x0809, struct.pack("<HHHHII", 0x0600, dt, 0x0DBB, 0x07CC, 0, 0))


def build_xls(lines, sheet="Data"):
    cells = []
    for r, ln in enumerate(lines):
        for c, cell in enumerate(_cells(ln)):
            raw = cell.encode("latin-1")
            cells.append(
                _rec(0x0204, struct.pack("<HHHHB", r, c, 0, len(raw), 0) + raw)
            )
    sheet_stream = _bof(0x0010) + b"".join(cells) + _rec(0x000A, b"")

    def globals_block(pos: int) -> bytes:
        name = sheet.encode("latin-1")
        return (
            _bof(0x0005)
            + _rec(0x0085, struct.pack("<IBB", pos, 0, 0) + bytes([len(name), 0]) + name)
            + _rec(0x000A, b"")
        )

    glb = globals_block(0)
    workbook = globals_block(len(glb)) + sheet_stream
    expected = sheet + "\n" + "\n".join("\t".join(_cells(ln)) for ln in lines)
    return make_cfb([("Workbook", workbook)]), expected


def _atom(rtype: int, payload: bytes, instance: int = 0) -> bytes:
    return struct.pack("<HHI", instance << 4, rtype, len(payload)) + payload


def _container(rtype: int, payload: bytes, instance: int = 0) -> bytes:
    return struct.pack("<HHI", (instance << 4) | 0x0F, rtype, len(payload)) + payload


def build_ppt(lines, per_slide: int = 6):
    slides = [lines[i : i + per_slide] for i in range(0, len(lines), per_slide)]
    slide_recs = [
        _container(1006, _atom(4008, "\r".join(s).encode("latin-1"))) for s in slides
    ]
    # persist id 1 = document, 2.. = slides
    persist = b"".join(
        _atom(1011, struct.pack("<IIiII", k + 2, 0, 1, 256 + k, 0))
        for k in range(len(slides))
    )
    document = _container(1000, _container(4080, persist, instance=0))
    offsets = [0]
    for rec in [document] + slide_recs[:-1]:
        offsets.append(offsets[-1] + len(rec))
    n = len(offsets)
    persist_dir = _atom(6002, struct.pack(f"<I{n}I", (n << 20) | 1, *offsets))
    off_dir = offsets[-1] + len(slide_recs[-1])
    user_edit = _atom(
        4085,
        struct.pack("<IIIIII", 256, 0, 0, off_dir, 1, n + 1) + struct.pack("<HH", 0, 0),
    )
    stream = document + b"".join(slide_recs) + persist_dir + user_edit
    current_user = _atom(
        4086,
        struct.pack("<III", 0x14, 0xE391C05F, off_dir + len(persist_dir)) + b"\x00" * 8,
    )
    payload = make_cfb([("Current User", current_user), ("PowerPoint Document", stream)])
    return payload, "\n".join("\n".join(s) for s in slides)


BUILDERS = {
    "html": build_html,
    "pdf": build_pdf,
    "rtf": build_rtf,
    "eml": build_eml,
    "text": build_text,
    "docx": build_docx,
    "xlsx": build_xlsx,
    "pptx": build_pptx,
    "odt": build_odt,
    "epub": build_epub,
    "xls": build_xls,
    "ppt": build_ppt,
}
KINDS = list(BUILDERS)
# payload-size caps: the CFB writer is limited to one FAT sector
MAX_CHARS = {"xls": 40_000, "ppt": 40_000}
DEFAULT_MAX_CHARS = 1_000_000


def build_doc(kind: str, rng, vocab, n_chars: int) -> tuple[bytes, str]:
    return BUILDERS[kind](lines_for(rng, vocab, n_chars))


def hostile_payloads(rng, vocab) -> list[tuple[str, bytes, str]]:
    """(name, payload, expected status) for planted hostile documents; each
    decodes to empty text with the stated status."""
    docx, _ = build_docx(lines_for(rng, vocab, 4000))
    garbage = bytes(rng.integers(0, 256, 3000, dtype=np.uint8))
    cfb_hdr = bytes.fromhex("d0cf11e0a1b11ae1") + bytes(rng.integers(0, 256, 2000, dtype=np.uint8))
    empty_zip = _zip([("readme.bin", "nothing to see", False)])
    return [
        ("truncated.docx", docx[: len(docx) // 2], "unsupported"),
        ("random.bin", b"\x00\xff" + garbage, "parse_error"),
        ("badcfb.doc", cfb_hdr, "parse_error"),
        ("plain.zip", empty_zip, "unsupported"),
    ]


def _sizes(rng, n: int, total: int, cap: int) -> list[int]:
    """n log-normal sizes with a heavy tail, rescaled to sum to `total`
    (capped at `cap`), so every seed carries the same bytes per kind."""
    raw = rng.lognormal(0.0, 1.2, n)
    sizes = raw / raw.sum() * total
    for _ in range(8):
        over = sizes > cap
        if not over.any():
            break
        excess = (sizes[over] - cap).sum()
        sizes[over] = cap
        free = ~over
        sizes[free] += excess * sizes[free] / sizes[free].sum()
    return [max(200, int(s)) for s in sizes]


# -- workload tables -------------------------------------------------------

# per kind: (documents, total text chars) for mixed_distinct
MIXED_MIX = {
    "html": (65, 750_000),
    "pdf": (45, 280_000),
    "rtf": (50, 310_000),
    "eml": (50, 310_000),
    "text": (60, 440_000),
    "docx": (65, 470_000),
    "xlsx": (45, 220_000),
    "pptx": (45, 220_000),
    "odt": (45, 220_000),
    "epub": (38, 220_000),
    "xls": (45, 190_000),
    "ppt": (45, 190_000),
}


# Documents per input file on mixed_distinct: a file is the smallest scan
# partition, and one holding more distinct documents than the 256-entry
# per-worker decode cache (LRU) guarantees that repeating the measured call
# never hits the cache.
DOCS_PER_FILE = 296
# input files of forwarded_write: one scan task per slot of local[nproc]
# at the package's spark.task.cpus=2
SLOTS = max(1, (os.cpu_count() or 1) // 2)
POOL = 96  # forwarded documents: fewer than the 256-entry per-worker decode cache


def zipf_ranks(n: int, pool: int, a: float = 1.3) -> np.ndarray:
    """n pool ranks whose counts follow a Zipf law (largest remainder
    rounding): the same multiset for every seed."""
    w = 1.0 / np.arange(1, pool + 1) ** a
    exact = w / w.sum() * n
    counts = np.floor(exact).astype(int)
    counts[np.argsort(counts - exact)[: n - counts.sum()]] += 1
    return np.repeat(np.arange(pool), counts)


def payload_cell(payload: bytes) -> str:
    return PAYLOAD_PREFIX + base64.b64encode(payload).decode("ascii")


def _skeleton(rng, n_turns: int, big_conv: tuple[int, int]) -> tuple[np.ndarray, np.ndarray]:
    """Skewed conversation sizes in the shape of the package's synthetic
    corpus: most conversations have 1-5 turns, a tail has tens, and a few
    have hundreds."""
    sizes, total = [], 0
    while total < n_turns:
        u = rng.random()
        if u < 0.02:
            size = int(rng.integers(*big_conv))
        elif u < 0.80:
            size = int(rng.integers(1, 6))
        else:
            size = int(rng.integers(6, 40))
        size = min(size, n_turns - total)
        sizes.append(size)
        total += size
    conv = np.repeat(np.arange(len(sizes)), sizes)
    turn = np.concatenate([np.arange(s) for s in sizes])
    return conv, turn


def _turn_rows(rng, conv, turn, doc_cells, doc_at):
    """Transcript rows; doc_at[i] is the index into doc_cells or -1. A
    third of the payloads arrive in the `tool` column."""
    n = len(conv)
    in_tool = rng.random(n) < 0.3
    rows = {
        "conv_id": [f"conv-{c:06d}" for c in conv],
        "turn_idx": turn.astype(np.int32),
        "role": [("user", "assistant", "tool")[t % 3] for t in turn],
        "text": [],
        "tool": [],
        "ts": (1767225600 + np.arange(n, dtype=np.int64)) * 1_000_000,
    }
    for i in range(n):
        filler = FILLER[(conv[i] + turn[i]) % len(FILLER)]
        d = doc_at[i]
        if d < 0:
            rows["text"].append(filler)
            rows["tool"].append("")
        elif in_tool[i]:
            rows["text"].append(filler)
            rows["tool"].append(doc_cells[d])
        else:
            rows["text"].append(doc_cells[d])
            rows["tool"].append("")
    # rows arrive unordered, so the sink's (conv_id, turn_idx) order is earned
    order = rng.permutation(n)
    return {k: (np.asarray(v, dtype=object)[order] if isinstance(v, list) else v[order])
            for k, v in rows.items()}


def even_split(n: int, k: int) -> list[int]:
    return [n // k + (i < n % k) for i in range(k)]


def _balanced_files(rng, rows: dict, n_files: int) -> tuple[dict, list[int]]:
    """Deal the rows into n_files files with equal document counts and
    near-equal payload bytes (documents by size, dealt in snake order;
    chat turns evenly), so the scan partitions carry the same work on
    every seed. Returns the rows ordered file by file, randomly within a
    file, and the row count per file."""
    size = np.array([len(a) + len(b) for a, b in zip(rows["text"], rows["tool"])])
    is_doc = np.array([PAYLOAD_PREFIX in (a[:8] + b[:8]) for a, b in zip(rows["text"], rows["tool"])])
    file_of = np.empty(len(size), dtype=np.int64)
    docs = np.nonzero(is_doc)[0]
    by_size = docs[np.argsort(-size[docs], kind="stable")]
    lap = np.arange(len(by_size)) % (2 * n_files)
    file_of[by_size] = np.where(lap < n_files, lap, 2 * n_files - 1 - lap)
    chat = np.nonzero(~is_doc)[0]
    file_of[chat] = rng.permutation(np.arange(len(chat)) % n_files)
    order = np.lexsort((rng.random(len(size)), file_of))
    return {k: v[order] for k, v in rows.items()}, np.bincount(file_of, minlength=n_files).tolist()


def _expected_rows(rows, doc_expect):
    """Per-turn (text, status) the pipeline must return: documents decode
    to their designed text/status, chat turns pass `text` through."""
    out_text, out_status = [], []
    for text, tool in zip(rows["text"], rows["tool"]):
        cell = tool if tool.startswith(PAYLOAD_PREFIX) else text
        if cell.startswith(PAYLOAD_PREFIX):
            t, s = doc_expect[cell]
        else:
            t, s = text, "skipped"
        out_text.append(t)
        out_status.append(s)
    return out_text, out_status


def gen_extraction(seed: int, workload: str) -> dict:
    """Transcript table + per-turn expectations for the two extraction
    workloads. Returns {"rows": column dict, "expect_text", "expect_status",
    "docs": [(kind, payload, expected_text, status)] distinct documents}."""
    rng = np.random.default_rng([seed, 1 if workload == "mixed_distinct" else 2])
    vocab = vocabulary(rng)
    docs: list[tuple[str, bytes, str, str]] = []
    if workload == "mixed_distinct":
        for kind, (count, total) in MIXED_MIX.items():
            cap = MAX_CHARS.get(kind, DEFAULT_MAX_CHARS)
            for n_chars in _sizes(rng, count, total, cap):
                payload, expected = build_doc(kind, rng, vocab, n_chars)
                docs.append((kind, payload, expected, "ok"))
        for name, payload, status in hostile_payloads(rng, vocab):
            docs.append(("hostile:" + name, payload, "", status))
        n_turns = 2 * len(docs)
        conv, turn = _skeleton(rng, n_turns, (60, 200))
        # every attachment appears exactly once, at a random turn
        doc_at = np.full(n_turns, -1)
        doc_at[rng.choice(n_turns, len(docs), replace=False)] = np.arange(len(docs))
    else:  # forwarded_write
        for k in range(POOL):
            kind = KINDS[k % len(KINDS)]
            n_chars = min(MAX_CHARS.get(kind, 12_000), 12_000)
            payload, expected = build_doc(kind, rng, vocab, n_chars)
            docs.append((kind, payload, expected, "ok"))
        n_turns = 2_000
        conv, turn = _skeleton(rng, n_turns, (150, 600))
        # 15 % of the turns forward a pool document; how often each pool
        # rank is forwarded follows a Zipf law with fixed counts, so every
        # seed carries the same document rows and payload bytes
        doc_at = np.full(n_turns, -1)
        slots = rng.choice(n_turns, int(0.15 * n_turns), replace=False)
        doc_at[slots] = rng.permutation(zipf_ranks(len(slots), POOL))
    cells = [payload_cell(p) for _, p, _, _ in docs]
    doc_expect = {c: (t, s) for c, (_, _, t, s) in zip(cells, docs)}
    rows = _turn_rows(rng, conv, turn, cells, doc_at)
    if workload == "mixed_distinct":
        rows, file_rows = _balanced_files(rng, rows, len(docs) // DOCS_PER_FILE)
    else:
        file_rows = even_split(n_turns, SLOTS)
    expect_text, expect_status = _expected_rows(rows, doc_expect)
    return {
        "rows": rows,
        "file_rows": file_rows,
        "expect_text": expect_text,
        "expect_status": expect_status,
        "docs": docs,
        "cells": cells,
    }


# -- dedup_filter ----------------------------------------------------------

NUM_HASHES, BANDS, SHINGLE = 16, 4, 4  # operators.dedup.dedup_pipeline defaults


def minhash(text: str) -> tuple[int, ...]:
    """The 16-value MinHash signature of dedup.minhash_signatures, computed
    independently from its documented construction (md5 of each 4-word
    shingle of the lowercased, whitespace-collapsed text; h1 = first 15
    hex digits, h2 = next 10; h_i = h1 + i*h2). Used only to plant
    structures whose LSH outcome is certain."""
    words = " ".join(text.lower().split()).split(" ")
    n = max(len(words) - SHINGLE, 0) + 1
    digests = [
        hashlib.md5(" ".join(words[i : i + SHINGLE]).encode()).hexdigest()
        for i in range(n)
    ]
    h1 = np.array([int(d[:15], 16) for d in digests], dtype=np.int64)
    h2 = np.array([int(d[16:26], 16) for d in digests], dtype=np.int64)
    sig = (h1[:, None] + np.arange(NUM_HASHES, dtype=np.int64)[None, :] * h2[:, None]).min(0)
    return tuple(int(v) for v in sig)


def bands(sig: list[int]) -> set[tuple]:
    r = NUM_HASHES // BANDS
    return {(b, tuple(sig[b * r : (b + 1) * r])) for b in range(BANDS)}


def word_set(text: str) -> set[str]:
    """The token set dedup.jaccard_verify_pairs compares (words longer
    than two characters of the normalized text)."""
    return {w for w in " ".join(text.lower().split()).split(" ") if len(w) > 2}


def gen_dedup(seed: int) -> dict:
    """(doc_id, text) table with planted structure and the decision every
    document must get:

    - near-duplicate clusters (a base text and variants with one word
      changed), each variant checked to share an LSH band with its base;
    - exact duplicate groups (byte-identical copies);
    - one hot LSH band key: documents that share a planted 4-word phrase
      whose hashes undercut every other shingle, so they all land in the
      same band bucket but are not duplicates (Jaccard far below 0.5);
    - distinct singletons, some planted to fail the corpus filter on
      repeated lines or on language.

    expect_cluster maps doc_id -> keeper (min doc_id of its cluster);
    expect_reason maps each keeper to its corpus_filter reason."""
    rng = np.random.default_rng([seed, 3])
    vocab = vocabulary(rng)
    texts: list[str] = []
    group: list[int] = []  # planted cluster number per document
    reason: list[str] = []

    def add(text: str, g: int, why: str = "ok") -> None:
        texts.append(text)
        group.append(g)
        reason.append(why)

    def body(n_words: int) -> str:
        return sentence(rng, vocab, n_words) + "."

    n_groups = 0
    # near-duplicate clusters: variants of a base with one word changed,
    # kept only when they share an LSH band with the base
    made = 0
    while made < 25:
        base = body(int(rng.integers(120, 260)))
        bsig = bands(minhash(base))
        words = base.split(" ")
        variants = []
        for _ in range(40):
            w = list(words)
            w[int(rng.integers(len(w)))] = vocab[int(rng.integers(len(vocab)))]
            var = " ".join(w)
            if var != base and var not in variants and bands(minhash(var)) & bsig:
                variants.append(var)
            if len(variants) == 4:
                break
        if not variants:
            continue  # the change always hit the shingle every band keeps
        add(base, n_groups)
        for var in variants[: int(rng.integers(1, 5))]:
            add(var, n_groups)
        n_groups += 1
        made += 1
    # exact duplicate groups
    for _ in range(15):
        t = body(int(rng.integers(80, 200)))
        for _ in range(int(rng.integers(2, 5))):
            add(t, n_groups)
        n_groups += 1
    # the hot band key: a phrase whose shingle hash h1 is tiny undercuts
    # every other shingle in any document carrying it
    phrase = None
    while phrase is None:
        for quad in rng.integers(0, len(vocab), (4096, 4)):
            cand = " ".join(vocab[quad])
            if int(hashlib.md5(cand.encode()).hexdigest()[:15], 16) < (1 << 60) // 20_000:
                phrase = cand
                break
    phrase_sig = minhash(phrase)
    for _ in range(100):
        while True:
            t = phrase + " " + body(int(rng.integers(60, 140)))
            if minhash(t) == phrase_sig:
                break
        add(t, n_groups)
        n_groups += 1
    # singletons; every 10th repeats its lines (dup_lines), every 25th is
    # German (lang)
    for k in range(500):
        if k % 10 == 5:
            line = sentence(rng, vocab, 12)
            t = "\n".join([line] * 4 + [sentence(rng, vocab, 12)])
            add(t, n_groups, "dup_lines")
        elif k % 25 == 7:
            words = vocab[rng.integers(0, len(vocab), 80)]
            words[1::3] = np.array(DE_STOP, dtype=object)[rng.integers(0, len(DE_STOP), 27)]
            add(" ".join(words) + ".", n_groups, "lang")
        else:
            add(body(int(rng.integers(60, 220))), n_groups)
        n_groups += 1
    # doc ids: a seeded permutation, so keepers are not simply the first rows
    ids = rng.permutation(len(texts)).astype(np.int64) * 7 + 1000
    keeper: dict[int, int] = {}
    for i, g in enumerate(group):
        keeper[g] = min(keeper.get(g, ids[i]), ids[i])
    expect_cluster = {int(ids[i]): int(keeper[g]) for i, g in enumerate(group)}
    expect_reason = {
        int(ids[i]): reason[i] for i in range(len(texts)) if ids[i] == keeper[group[i]]
    }
    order = rng.permutation(len(texts))
    return {
        "rows": {
            "doc_id": ids[order],
            "text": np.asarray(texts, dtype=object)[order],
        },
        "file_rows": even_split(len(texts), 2 * (os.cpu_count() or 1)),
        "expect_cluster": expect_cluster,
        "expect_reason": expect_reason,
    }

