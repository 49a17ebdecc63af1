"""Seeded input generators for the workloads.

Every generator is a pure function of ``(seed, index)``: the same seed
yields byte-identical files, and a run can ask for item ``i`` of a
stream without generating the items before it. Writers only touch the
directory they are given (the run's temp root).

- CDW (paper pipeline): an xlsx patient registry and PDF/DOCX clinical
  notes with the FIXTURES.md properties planted — keep-first duplicate
  registry rows, mixed ``DATE_MORT``, leading-zero IPPs, pre-2001
  birth dates ahead of the document date, zero/one/many ``Dr`` mentions
  (one concatenated ``Dr XDr Y`` run) and orphan IPPs.
- Curation: a word-soup corpus ``(doc_id, lang, text)`` with planted
  exact and near duplicates.
- Serving: documents plus clustered embeddings, and the read mix
  (Zipf-skewed BM25 terms, near-dup texts, held-out vectors).
"""

from __future__ import annotations

import bisect
import io
import itertools
import os
import random
import zipfile

import numpy as np

# --------------------------------------------------------------------------
# shared
# --------------------------------------------------------------------------


def rng(seed: int, *salt) -> random.Random:
    """Independent deterministic stream per (seed, salt); string seeds
    hash with SHA-512, so streams are stable across processes."""
    return random.Random(":".join(map(str, (seed,) + salt)))


#: the documents-table vocabulary, most frequent first
BASE_WORDS = (
    "vector column customer table scan spark value data join big key slow "
    "stream row line group filter window merge a batch small agg hash query "
    "the order part fast sort"
).split()
_SYL = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "be", "pa", "go", "fu"]


def vocabulary(n_extra: int = 600) -> list[str]:
    """BASE_WORDS then ``n_extra`` synthetic lowercase words (fixed,
    seed-independent): the Zipf tail the BM25 reads draw from."""
    words = list(BASE_WORDS)
    seen = set(words)
    i = 0
    while len(words) < len(BASE_WORDS) + n_extra:
        a, b, c = i % 12, (i // 12) % 12, (i // 144) % 12
        w = _SYL[a] + _SYL[b] + (_SYL[c] if i >= 144 else "")
        i += 1
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def zipf_weights(n: int, s: float = 1.1) -> list[float]:
    return [1.0 / (r + 1) ** s for r in range(n)]


VOCAB = vocabulary()
_VOCAB_CDF = list(itertools.accumulate(zipf_weights(len(VOCAB))))


def word_soup(r: random.Random, n_words: int) -> str:
    return " ".join(r.choices(VOCAB, cum_weights=_VOCAB_CDF, k=n_words))


def perturb(r: random.Random, text: str, n_subs: int) -> str:
    """Replace ``n_subs`` word positions with other vocabulary words."""
    words = text.split()
    for _ in range(n_subs):
        i = r.randrange(len(words))
        words[i] = r.choice([w for w in VOCAB[:200] if w != words[i]])
    return " ".join(words)


# --------------------------------------------------------------------------
# CDW: registry (FIXTURES.md §1) and documents (§2)
# --------------------------------------------------------------------------

XLSX_HEADER = [
    "NOM", "PRENOM", "DATE_NAISSANCE", "SEXE", "NOM_JEUNE_FILLE",
    "HOSPITAL_PATIENT_ID", "ADRESSE", "TEL", "CP", "VILLE", "PAYS", "DATE_MORT",
]
_LAST = ("Martin Bernard Thomas Petit Robert Richard Durand Dubois Moreau "
         "Laurent Simon Michel Lefebvre Leroy Roux David Bertrand Morel "
         "Fournier Girard Bonnet Dupont Lambert Fontaine Rousseau Vincent "
         "Muller Lefevre Faure Mercier Blanc Guerin Boyer Garnier Chevalier "
         "Francois Legrand Gauthier Garcia Perrin Robin Clement Morin").split()
_FIRST = ("Jean Marie Pierre Anne Louis Claire Paul Julie Marc Sophie Luc "
          "Emma Hugo Lea Jules Chloe Leo Manon Noah Camille Adam Sarah "
          "Tom Ines Nina Theo Lucas Zoe Alice Victor").split()
_CITIES = [("Paris", "75012"), ("Lyon", "69003"), ("Lille", "59000"),
           ("Nantes", "44000"), ("Rennes", "35000"), ("Brest", "29200"),
           ("Quebec", "G1R 4P5"), ("Geneve", "1204")]
#: author names: lowercase-alpha tokens with no "dr" inside, so the
#: ``split("dr")`` truncation only fires where a run is planted
_DOCTORS = ("pomme mozza abricot hassan bobo strauss nova mamy penne pistou "
            "frank einstein love bilingue arthur palme celeri poire olive "
            "citron menthe basilic thym sauge laurier cumin").split()


def _fr_date(r: random.Random, y0: int, y1: int) -> str:
    return f"{r.randint(1, 28):02d}/{r.randint(1, 12):02d}/{r.randint(y0, y1)}"


def registry_rows(seed: int, n_patients: int, dup_every: int = 97) -> tuple[list, int]:
    """``(rows, n_dups)``: header + data rows with a keep-first
    duplicate (same dedup key, other IPP) planted after every
    ``dup_every``-th patient. IPPs are unique 8-digit strings, every
    tenth with leading zeros; ~12 % of patients carry a DATE_MORT."""
    r = rng(seed, "registry")
    used: set[int] = set()

    def fresh_ipp(i: int) -> str:
        hi = 1_000_000 if i % 10 == 0 else 100_000_000
        while True:
            x = r.randrange(1, hi)
            if x not in used:
                used.add(x)
                return f"{x:08d}"

    rows: list = [list(XLSX_HEADER)]
    n_dups = 0
    for i in range(n_patients):
        ipp = fresh_ipp(i)
        city, cp = _CITIES[r.randrange(len(_CITIES))]
        row = [
            r.choice(_LAST).upper(),
            r.choice(_FIRST),
            _fr_date(r, 1930, 2000),
            "M" if i % 2 else "F",
            None,
            ipp,
            f"{r.randint(1, 200)} rue {r.choice(_LAST)}",
            f"+33 6 {i // 10000:02d} {i % 10000:04d} {r.randint(10, 99)}",
            cp,
            city,
            "France" if r.random() < 0.9 else None,
            _fr_date(r, 2001, 2023) if r.random() < 0.12 else None,
        ]
        rows.append(row)
        if i % dup_every == dup_every - 1:
            dup = list(row)
            dup[5] = fresh_ipp(1)
            rows.append(dup)
            n_dups += 1
    return rows, n_dups


def registry_edit(seed: int, rows: list, edit_no: int, n_new: int) -> list:
    """A registry revision: ``n_new`` patients appended, and DATE_MORT
    set on a few living ones (an update of existing rows)."""
    r = rng(seed, "registry-edit", edit_no)
    out = [list(x) for x in rows]
    used = {x[5] for x in out[1:]}
    base = len(out) - 1
    for j in range(n_new):
        while True:
            ipp = f"{r.randrange(1, 100_000_000):08d}"
            if ipp not in used:
                used.add(ipp)
                break
        city, cp = _CITIES[r.randrange(len(_CITIES))]
        out.append([
            r.choice(_LAST).upper(), r.choice(_FIRST), _fr_date(r, 1930, 2000),
            "F" if j % 2 else "M", None, ipp,
            f"{r.randint(1, 200)} avenue {r.choice(_LAST)}",
            f"+33 7 {edit_no:02d} {base + j:06d}", cp, city, "France", None,
        ])
    for _ in range(3):
        row = out[1 + r.randrange(base)]
        if row[11] is None:
            row[11] = _fr_date(r, 2024, 2025)
    return out


def _esc(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _zip(members: list[tuple[str, str]]) -> bytes:
    """Zip container with a fixed timestamp: byte-identical per input."""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in members:
            zf.writestr(zipfile.ZipInfo(name, (2020, 1, 1, 0, 0, 0)), data)
    return buf.getvalue()


def xlsx_bytes(rows: list, sheet_name: str = "Export Worksheet") -> bytes:
    """Single-sheet xlsx with inline strings."""
    def col(j: int) -> str:
        s, n = "", j + 1
        while n:
            n, rem = divmod(n - 1, 26)
            s = chr(65 + rem) + s
        return s

    body = "".join(
        f'<row r="{i + 1}">'
        + "".join(
            f'<c r="{col(j)}{i + 1}" t="inlineStr"><is><t>{_esc(v)}</t></is></c>'
            for j, v in enumerate(row)
            if v is not None
        )
        + "</row>"
        for i, row in enumerate(rows)
    )
    ns = "http://schemas.openxmlformats.org"
    return _zip([
        ("xl/workbook.xml",
         f'<workbook xmlns="{ns}/spreadsheetml/2006/main" '
         f'xmlns:r="{ns}/officeDocument/2006/relationships"><sheets>'
         f'<sheet name="{_esc(sheet_name)}" sheetId="1" r:id="rId1"/>'
         "</sheets></workbook>"),
        ("xl/_rels/workbook.xml.rels",
         f'<Relationships xmlns="{ns}/package/2006/relationships">'
         f'<Relationship Id="rId1" Type="{ns}/officeDocument/2006/'
         'relationships/worksheet" Target="worksheets/sheet1.xml"/>'
         "</Relationships>"),
        ("xl/worksheets/sheet1.xml",
         f'<worksheet xmlns="{ns}/spreadsheetml/2006/main">'
         f"<sheetData>{body}</sheetData></worksheet>"),
    ])


def docx_bytes(lines: list[str]) -> bytes:
    w = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
    paras = "".join(
        f'<w:p><w:r><w:t xml:space="preserve">{_esc(t)}</w:t></w:r></w:p>'
        for t in lines
    )
    return _zip([
        ("word/document.xml",
         f'<w:document xmlns:w="{w}"><w:body>{paras}</w:body></w:document>'),
    ])


def pdf_bytes(lines: list[str]) -> bytes:
    """Minimal single-page PDF: one uncompressed content stream, one Tj
    per line."""
    def esc(s: str) -> str:
        return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")

    content = ("BT /F1 10 Tf 40 800 Td " + " ".join(
        f"({esc(line)}) Tj 0 -12 Td" for line in lines
    ) + " ET").encode("latin-1")
    return (
        b"%PDF-1.4\n1 0 obj << /Length " + str(len(content)).encode()
        + b" >>\nstream\n" + content + b"\nendstream\nendobj\n%%EOF\n"
    )


_CLINICAL = ("patient examen bilan suivi consultation traitement douleur "
             "imagerie scanner thorax abdomen normal stable controle "
             "resultat biologie tension poids allergie antecedent plan "
             "sortie hospitalisation service ordonnance").split()


def note(seed: int, doc_key: str, version: int) -> tuple[list[str], str, str | None]:
    """``(lines, expected DOCUMENT_DATE dd/mm/yyyy, expected AUTHOR)``
    of one clinical note. A pre-2001 birth date always precedes the
    document date; the author is the LAST ``Dr`` mention (none in ~6 %
    of notes, several in ~30 %, a concatenated ``Dr XDr Y`` run in
    ~5 %). Each name ends with a period so the two-word author regex
    captures exactly the planted name."""
    r = rng(seed, "note", doc_key, version)
    doc_date = _fr_date(r, 2001, 2024)
    lines = [
        "Compte rendu de consultation",
        f"Ne le {_fr_date(r, 1930, 2000)} - dossier {doc_key}",
        f"Date de l'examen : {doc_date}",
    ]
    target = r.randint(600, 4000)
    size = sum(map(len, lines))
    while size < target:
        line = " ".join(r.choices(_CLINICAL, k=r.randint(6, 14))) + "."
        lines.append(line)
        size += len(line)
    kind = r.random()
    author: str | None
    if kind < 0.06:
        author = None
    else:
        names = [
            " ".join(r.sample(_DOCTORS, r.choice((1, 1, 2))))
            for _ in range(3 if kind > 0.70 else 1)
        ]
        if 0.06 <= kind < 0.11:
            # concatenated textbox run: "Dr PistouDr Penne" -> "Dr Pistou"
            a, b = r.sample(_DOCTORS, 2)
            names[-1] = f"{a}Dr {b}"
            author = "Dr " + a.capitalize()
        else:
            author = "Dr " + " ".join(w.capitalize() for w in names[-1].split())
        for k, name in enumerate(names):
            pos = 3 + (k + 1) * (len(lines) - 3) // (len(names) + 1)
            lines.insert(pos, f"Vu par Dr {name.title() if 'Dr ' not in name else name}.")
    return lines, doc_date, author


def note_file(seed: int, ipp: str, doc_id: str, ext: str, version: int) -> tuple[bytes, str, str | None]:
    lines, date, author = note(seed, f"{ipp}_{doc_id}", version)
    data = pdf_bytes(lines) if ext == "pdf" else docx_bytes(lines)
    return data, date, author


def write_file(path: str, data: bytes) -> None:
    tmp = path + ".part"
    with open(tmp, "wb") as fh:
        fh.write(data)
    os.replace(tmp, path)


# --------------------------------------------------------------------------
# curation corpus
# --------------------------------------------------------------------------

_LANGS = ["en"] * 8 + ["fr", "es", "de", "zh"] * 3


def corpus_doc(seed: int, doc_id: int) -> tuple[int, str, str]:
    """``(doc_id, lang, text)``. Every 17th document exactly repeats an
    earlier one's text, every 13th is a one-word perturbation of an
    earlier one (near duplicate); the rest are fresh word soup of
    8-90 words."""
    r = rng(seed, "corpus", doc_id)
    lang = r.choice(_LANGS)
    if doc_id >= 50 and doc_id % 17 == 5:
        src = corpus_doc(seed, r.randrange(doc_id - 50, doc_id))[2]
        return doc_id, lang, src
    if doc_id >= 50 and doc_id % 13 == 7:
        src = corpus_doc(seed, r.randrange(doc_id - 50, doc_id))[2]
        return doc_id, lang, perturb(r, src, 1)
    return doc_id, lang, word_soup(r, r.randint(8, 90))


# --------------------------------------------------------------------------
# serving corpus
# --------------------------------------------------------------------------

EMB_DIM = 32
N_CLUSTERS = 16


def serving_doc(seed: int, doc_id: int) -> str:
    """Document text for the serving stores: 30-120 words."""
    r = rng(seed, "serve-doc", doc_id)
    return word_soup(r, r.randint(30, 120))


def cluster_centers(seed: int) -> np.ndarray:
    g = np.random.default_rng([seed, 7])
    return g.normal(0.0, 1.0, size=(N_CLUSTERS, EMB_DIM))


def embeddings(seed: int, ids: range) -> np.ndarray:
    """One float32 vector per id: a cluster center plus noise; each
    id's vector depends only on (seed, id)."""
    centers = cluster_centers(seed)
    out = np.empty((len(ids), EMB_DIM), dtype=np.float32)
    for k, i in enumerate(ids):
        g = np.random.default_rng([seed, 11, i])
        out[k] = centers[i % N_CLUSTERS] + g.normal(0.0, 0.35, EMB_DIM)
    return out


def kmeans(x: np.ndarray, k: int, seed: int, iters: int = 8) -> np.ndarray:
    """Deterministic Lloyd k-means (init: a seeded sample of rows)."""
    g = np.random.default_rng([seed, 13, k, x.shape[1]])
    c = x[g.choice(len(x), size=k, replace=False)].astype(np.float64)
    for _ in range(iters):
        d = ((x[:, None, :] - c[None, :, :]) ** 2).sum(-1)
        a = d.argmin(1)
        for j in range(k):
            pts = x[a == j]
            if len(pts):
                c[j] = pts.mean(0)
    return c


def quantizer(seed: int, train: np.ndarray, m: int = 8, ksub: int = 16) -> tuple[list, list]:
    """(IVF centroids, PQ codebooks) trained on ``train``, as the
    plain float lists ``IVFVectorIndex`` takes."""
    cents = kmeans(train, N_CLUSTERS, seed)
    sub = train.shape[1] // m
    books = [
        np.float32(kmeans(train[:, s * sub:(s + 1) * sub], ksub, seed + s)).tolist()
        for s in range(m)
    ]
    return cents.tolist(), books


_GOLDEN = 0.6180339887498949


def _zipf_word(u: float) -> str:
    """The vocabulary word at quantile ``u`` of the Zipf weights."""
    return VOCAB[min(bisect.bisect_left(_VOCAB_CDF, u * _VOCAB_CDF[-1]), len(VOCAB) - 1)]


def read_mix(seed: int, n: int, indexed: int, held: range) -> list[tuple[str, object, object]]:
    """The serving read stream: ``(kind, query, expected)`` in a fixed
    rotation of BM25 term lists (1-3 Zipf-skewed terms), near-dup texts
    (alternating planted hits — ``expected`` is the source doc id, an
    indexed document with one word changed when it has 60+ words — and
    fresh-text misses) and vectors (alternating held-out and indexed ids).

    The mix is stratified so every seed reads the same shape: term
    quantiles follow a golden-ratio sequence from a seeded start, so the
    share of frequent (long-posting) terms is the same for every seed;
    the seed picks the words, documents and ids."""
    r = rng(seed, "reads")
    u = r.random()
    out: list = []
    for i in range(n):
        kind, j = ("text", "dedup", "vector")[i % 3], i // 3
        if kind == "text":
            terms = []
            for _ in range(1 + j % 3):
                u = (u + _GOLDEN) % 1.0
                terms.append(_zipf_word(u))
            out.append(("text", tuple(dict.fromkeys(terms)), None))
        elif kind == "dedup":
            if j % 2 == 0:
                src = r.randrange(indexed)
                text = serving_doc(seed, src)
                if len(text.split()) >= 60:
                    text = perturb(r, text, 1)
                out.append(("dedup", text, src))
            else:
                out.append(("dedup", word_soup(r, 30 + (j * 37) % 71), None))
        else:
            out.append(("vector", r.choice(held) if j % 2 == 0 else r.randrange(indexed), None))
    return out
