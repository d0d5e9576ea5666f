"""Deterministic fixture generator (FIXTURES.md §A; seed=42, no wall clock).

Synthesizes the closed-world ground truth the pipeline is graded against:

* ``compound_dict``   — the lexicon (canonical + synonym + formula surfaces,
  SMILES/InChI/InChIKey; ~12% duplicate entries sharing an InChIKey to drive
  synonymOf / connected-components merging),
* ``source_files``    — a corpus shaped exactly ``(repo, path, commit, lang,
  content)`` [BASELINE.json:L15] with compound mentions injected at recorded
  offsets (comments, string literals, identifiers), Zipf compound skew with
  water/ethanol hot in ~30% of files [BASELINE.json:L6],
* ``golden_mentions`` — the injected spans (ground truth by construction;
  ``compound_id`` null marks deliberate hard-negative traps),
* ``golden_triples``  — derived by the pandas paper oracle (fixtures/oracle.py),
* ``manifest``        — (repo, path, commit, content_sha) for the per-row
  sha256 invariant [BASELINE.json:L15].

Everything is pure python + pyarrow (no Spark) so generation is fast and the
ground truth is independent of the system under test.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from kgx.fixtures.oracle import derive_golden_links, derive_golden_triples
from kgx.text import chemlex as cl
from kgx.text.normalize import norm_term

SEED = 42

# Stamped into manifest.json at generate() time and checked by ensure():
# bump on ANY schema or content-rule change to ANY generated table.  Table
# presence alone is not a staleness signal — a dir generated by an older
# generator with the same table set would otherwise silently serve stale
# data (the round-1 masking failure mode; tests/test_fixture_schema_guard.py).
GEN_VERSION = 4

# scale -> (n_files, n_base_structures)
SCALES = {
    "tiny": (200, 300),
    "small": (5000, 3000),
    "bench": (60000, 8000),
    # scaling: sized so parallel compute dominates the per-job serial floor
    # (~30 s of broadcast/UDF-stage setup) — the regime where the N→4N
    # efficiency criterion is meaningful
    "scaling": (2400000, 8000),
    # scaling2: 2× scaling — after the round-2 detect-kernel speedup (5.5×)
    # the 2.4M corpus left the gate pair floor-dominated again; this keeps
    # the perfectly-parallel fraction dominant per the same design rule
    "scaling2": (4800000, 8000),
    # scaling3: 1.5× scaling2 — the round-3 kernel speedup (1.8×) plus the
    # measured ~13% wide-run task-throughput drift on this host shrank the
    # gate margin at 4.8M files (protocol median 0.774); same sizing rule
    "scaling3": (7200000, 8000),
    # scaling4: 2× scaling3 — NOT a gate corpus; the round-6 scale-out
    # probe for the T = C/w + S serial-floor model: if eff(N→4N) trends
    # toward 0.9 as C doubles (the floor S staying flat while parallel
    # work C doubles), the efficiency ceiling is corpus-size-limited as
    # the model predicts, not engine-limited
    "scaling4": (14400000, 8000),
}

LANGS = ("python", "java", "c", "go", "rust", "markdown")
LANG_W = (35, 20, 15, 10, 10, 10)
LANG_EXT = {
    "python": ".py",
    "java": ".java",
    "c": ".c",
    "go": ".go",
    "rust": ".rs",
    "markdown": ".md",
}
LANG_CMT = {
    "python": "#",
    "java": "//",
    "c": "//",
    "go": "//",
    "rust": "//",
    "markdown": ">",
}

_B32 = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"


def _inchikey(inchi: str) -> str:
    h = hashlib.sha256(inchi.encode()).digest()
    chars = [_B32[b % 32] for b in h[:25]]
    return "".join(chars[:14]) + "-" + "".join(chars[14:24]) + "-" + chars[24]


def _smiles(sid: int) -> str:
    atoms = "CONS"
    out = ["C"]
    x = sid + 7
    while x:
        out.append(atoms[x % 4])
        x //= 5
    out.append("(=O)" if sid % 3 == 0 else "O")
    return "".join(out)


def _formula(sid: int, used: set[str]) -> str:
    c, h = 1 + sid % 19, 2 + (sid * 7) % 40
    o, n = sid % 7, (sid * 3) % 5
    f = f"C{c}H{h}" + (f"N{n}" if n else "") + (f"O{o}" if o else "")
    while f in used:
        h += 40
        f = f"C{c}H{h}" + (f"N{n}" if n else "") + (f"O{o}" if o else "")
    used.add(f)
    return f


def _systematic_name(rng: random.Random, used_norms: set[str]) -> str:
    """Build a unique IUPAC-morpheme-grammar name, e.g. 2,3-dimethylbutan-1-ol."""
    for _ in range(64):
        stem = rng.choice(cl.STEMS)
        suffix = rng.choice(cl.SUFFIXES)
        nsub = rng.choice((0, 1, 1, 2))
        subs = []
        for _ in range(nsub):
            mult = rng.choice(cl.MULTIPLIERS)
            nloc = {"": 1, "di": 2, "tri": 3, "tetra": 4}[mult]
            locs = ",".join(str(x) for x in sorted(rng.sample(range(1, 7), nloc)))
            subs.append(f"{locs}-{mult}{rng.choice(cl.SUBSTITUENTS)}")
        if suffix == "oic acid":
            tail = f"{stem}anoic acid"
        elif suffix in ("ane", "ene", "yne"):
            tail = f"{stem}{suffix}"
        else:
            tail = f"{stem}an-{rng.randint(1, 4)}-{suffix}"
        name = "".join(subs) + tail
        if norm_term(name) not in used_norms:
            used_norms.add(norm_term(name))
            return name
    raise RuntimeError("could not build a unique systematic name")


def _abbrev_of(name: str, rng: random.Random, used: set[str]) -> str:
    letters = [c for c in name.upper() if c.isalpha()]
    for _ in range(32):
        k = rng.randint(3, 5)
        cand = "".join(rng.choice(letters) for _ in range(k))
        cand = cand[0] + cand[1:]
        if cand not in used and cl.is_abbrev_like(cand):
            used.add(cand)
            return cand
    raise RuntimeError("could not build a unique abbreviation")


def _corrupt(name: str, rng: random.Random, term_norms: set[str]) -> str | None:
    """Edit-distance-1 corruption of the FIRST token that stays recognizably
    chemical (same gate the detector uses) and is NOT in the lexicon."""
    tok = name.split(" ")[0]
    if len(tok) < 7:
        return None
    # only corrupt alphabetic positions away from the edges, so the token
    # stays one chem-token (never creates ",," or leading/trailing seps)
    positions = [i for i in range(1, len(tok) - 3) if tok[i].isalpha() and tok[i - 1].isalpha()]
    if not positions:
        return None
    for _ in range(16):
        i = rng.choice(positions)
        if rng.random() < 0.5:
            cand_tok = tok[:i] + tok[i + 1 :]  # deletion
        else:
            cand_tok = tok[:i] + tok[i] + tok[i:]  # duplication
        cand = cand_tok + name[len(tok) :]
        if norm_term(cand) in term_norms:
            continue
        if cl.is_systematic_like(cand_tok.lower().split("-")[-1]) or cl.is_systematic_like(
            cand_tok.lower()
        ):
            return cand
    return None


def _dehyphenate(name: str, rng: random.Random, term_norms: set[str]) -> str | None:
    """Drop one hyphen from the first token — a surface variant whose
    *skeleton* still matches the lexicon (links via the OPSIN-style
    systematic resolver, SURVEY §2 C4) but whose normalized form does not."""
    tok = name.split(" ")[0]
    hyphens = [i for i, ch in enumerate(tok) if ch == "-"]
    if not hyphens:
        return None
    rng.shuffle(hyphens)
    for i in hyphens:
        cand_tok = tok[:i] + tok[i + 1 :]
        cand = cand_tok + name[len(tok) :]
        if norm_term(cand) not in term_norms and cl.is_systematic_like(cand_tok.lower()):
            return cand
    return None


def build_dictionary(n_structures: int, rng: random.Random):
    """-> (rows, term_norms) where rows follow schemas.COMPOUND_DICT order."""
    used_norms: set[str] = set()
    used_formulas: set[str] = set()
    used_abbrevs: set[str] = set()
    rows = []
    cid = 0

    used_cas: set[str] = set()

    def _cas(sid: int) -> str | None:
        if sid % 5 >= 3:  # ~40% of structures carry no CAS number
            return None
        c = f"{50 + (sid * 7) % 99950}-{10 + sid % 90}-{sid % 10}"
        while c in used_cas:
            sid += 99991
            c = f"{50 + (sid * 7) % 99950}-{10 + sid % 90}-{sid % 10}"
        used_cas.add(c)
        return c

    def add_entry(name, name_type, sid, synonyms, abbrev):
        nonlocal cid
        priority = 0 if name_type == "SYSTEMATIC" else 1
        inchi = f"InChI=1S/SYN{sid}/c{1 + sid % 97}-{1 + sid % 13}h"
        rows.append(
            {
                "compound_id": cid,
                "canonical_name": name,
                "name_type": name_type,
                "synonyms": synonyms,
                "formula": _formula(sid, used_formulas),
                "cas": _cas(sid) if name_type != "TRIVIAL" or sid % 2 == 0 else None,
                "smiles": _smiles(sid),
                "inchi": inchi,
                "inchikey": _inchikey(inchi),
                "abbrev": abbrev,
                "priority": priority,
            }
        )
        cid += 1

    for sid in range(n_structures):
        if sid < len(cl.TRIVIAL_NAMES):
            name, name_type = cl.TRIVIAL_NAMES[sid], "TRIVIAL"
            used_norms.add(norm_term(name))
        else:
            name, name_type = _systematic_name(rng, used_norms), "SYSTEMATIC"

        synonyms = []
        # hyphen->space surface variant (distinct normalized form); capped at
        # the detector's MAX_TERM_TOKENS n-gram window
        if "-" in name and rng.random() < 0.5:
            v = name.replace("-", " ")
            if len(norm_term(v).split()) <= 4 and norm_term(v) not in used_norms:
                used_norms.add(norm_term(v))
                synonyms.append(v)
        # in-lexicon misspelling (links via method=synonym)
        if rng.random() < 0.25:
            v = _corrupt(name, rng, used_norms)
            if v is not None:
                used_norms.add(norm_term(v))
                synonyms.append(v)

        abbrev = None
        if rng.random() < 0.15 and len(name) >= 5:
            abbrev = _abbrev_of(name, rng, used_abbrevs)

        add_entry(name, name_type, sid, synonyms, abbrev)

        # ~12% of structures get a duplicate lexicon entry (same structure,
        # different canonical name) -> synonymOf / CC-merge ground truth
        if rng.random() < 0.12:
            alias = None
            for _ in range(16):
                cand = f"{rng.choice(cl.SUBSTITUENTS)}{rng.choice(cl.STEMS)}ine"
                if norm_term(cand) not in used_norms:
                    alias = cand
                    break
            if alias is not None:
                used_norms.add(norm_term(alias))
                add_entry(alias, "TRIVIAL", sid, [], None)

    # every formula / CAS surface is also a lookup key
    term_norms = set(used_norms)
    for r in rows:
        term_norms.add(norm_term(r["formula"]))
        if r.get("cas"):
            term_norms.add(norm_term(r["cas"]))
    return rows, term_norms


class _FileBuilder:
    """Accumulates content segments while recording absolute mention spans."""

    def __init__(self):
        self.parts: list[str] = []
        self.pos = 0
        self.mentions: list[dict] = []  # start,end,text,mtype,compound_id

    def emit(self, s: str):
        self.parts.append(s)
        self.pos += len(s)

    def emit_line_with(self, prefix: str, spans: list[tuple[str, str, object]], suffix: str):
        """spans: [(surface, mtype, compound_id_or_None)] joined by ' '."""
        self.emit(prefix)
        for i, (surface, mtype, cid) in enumerate(spans):
            if i:
                self.emit(" ")
            if mtype is not None:
                self.mentions.append(
                    {
                        "start": self.pos,
                        "end": self.pos + len(surface),
                        "text": surface,
                        "mtype": mtype,
                        "compound_id": cid,
                    }
                )
            self.emit(surface)
        self.emit(suffix + "\n")

    def content(self) -> str:
        return "".join(self.parts)


def _filler_line(rng: random.Random, lang: str) -> str:
    w = lambda: rng.choice(cl.FILLER_WORDS)  # noqa: E731
    k = rng.randint(0, 997)
    cmt = LANG_CMT[lang]
    kind = rng.randint(0, 4)
    if kind == 0:
        return f"{cmt} {w()} {w()} {w()}\n"
    if kind == 1:
        return f"{w()}_{w()} = {k}\n"
    if kind == 2:
        return f"def {w()}_{w()}(x): return x + {k}\n" if lang == "python" else f"int {w()}_{w()} = {k};\n"
    if kind == 3:
        return f'{w()} = "{w()} {w()}"\n'
    return f"for {w()} in {w()}: {w()}({k})\n" if lang == "python" else f"while ({w()} < {k}) {w()}++;\n"


def _zipf_cdf(n: int, a: float) -> np.ndarray:
    p = 1.0 / np.power(np.arange(1, n + 1, dtype=np.float64), a)
    return np.cumsum(p / p.sum())


def _corpus_ctx(dict_rows: list[dict], term_norms: set[str], n_files: int) -> dict:
    """File-index-independent corpus state: everything the per-file loop
    reads.  Computed once, shared read-only with fork-pool workers."""
    n_repos = max(3, n_files // 100)
    return {
        "by_id": {r["compound_id"]: r for r in dict_rows},
        "cpd_cdf": _zipf_cdf(len(dict_rows), 1.1),
        "repo_cdf": _zipf_cdf(n_repos, 1.3),
        "repo_names": [
            f"org{i // 40}/repo{i % 40 if i // 40 else i}" for i in range(n_repos)
        ],
        "term_norms": term_norms,
    }


def _guard_filler_vocab(term_norms: set[str]) -> None:
    # guard: filler vocabulary must not collide with the lexicon or the
    # detector's candidate gates (keeps golden precision meaningful)
    for wrd in cl.FILLER_WORDS:
        assert norm_term(wrd) not in term_norms, wrd
        assert not cl.is_systematic_like(wrd), wrd
        assert not cl.is_formula_like(wrd), wrd


def build_corpus(dict_rows: list[dict], term_norms: set[str], n_files: int, rng: random.Random):
    ctx = _corpus_ctx(dict_rows, term_norms, n_files)
    _guard_filler_vocab(term_norms)
    return _build_file_range(0, n_files, ctx)


def _build_file_range(lo: int, hi: int, ctx: dict):
    """The per-file generation loop over ``[lo, hi)``.  Every file seeds its
    own RNG from its index (``random.Random(f"{SEED}/{fi}")``), so any span
    produces exactly the rows the full loop would — the property the
    streaming/parallel path in generate() relies on."""
    by_id = ctx["by_id"]
    cpd_cdf = ctx["cpd_cdf"]
    repo_cdf = ctx["repo_cdf"]
    repo_names = ctx["repo_names"]
    term_norms = ctx["term_norms"]

    files, goldens, manifest = [], [], []

    for fi in range(lo, hi):
        frng = random.Random(f"{SEED}/{fi}")
        repo = repo_names[int(np.searchsorted(repo_cdf, frng.random()))]
        lang = frng.choices(LANGS, weights=LANG_W, k=1)[0]
        module = frng.choice(cl.FILLER_WORDS)
        path = f"src/{module}/{frng.choice(cl.FILLER_WORDS)}_{fi}{LANG_EXT[lang]}"
        cmt = LANG_CMT[lang]

        # mention plan
        n_m = frng.choices((0, 1, 2, 3, 4, 5, 6), weights=(8, 18, 24, 22, 14, 9, 5), k=1)[0]
        plan_ids = [int(np.searchsorted(cpd_cdf, frng.random())) for _ in range(n_m)]
        if frng.random() < 0.30:  # hot-compound injection (water / ethanol)
            plan_ids.append(frng.choice((0, 1)))

        # versions: ~10% of files carry 2-3 commits; golden = lexicographic
        # max commit (the pipeline's latest-version dedup rule, SURVEY D7)
        n_ver = frng.choices((1, 2, 3), weights=(90, 7, 3), k=1)[0]
        commits = [hashlib.sha256(f"{repo}/{path}/v{v}".encode()).hexdigest()[:40] for v in range(n_ver)]
        latest = max(range(n_ver), key=lambda v: commits[v])

        for v in range(n_ver):
            vrng = random.Random(f"{SEED}/{fi}/{v}")
            ids = plan_ids if v == latest else plan_ids[: max(0, len(plan_ids) - 1)]
            fb = _FileBuilder()
            fb.emit(f"{cmt} module {module} rev {v}\n")

            for cid_idx, cid in enumerate(ids):
                for _ in range(vrng.randint(1, 3)):
                    fb.emit(_filler_line(vrng, lang))
                entry = by_id[cid]
                name = entry["canonical_name"]
                choice = vrng.random()
                surface, mtype = name, entry["name_type"]
                if choice < 0.13 and entry["synonyms"]:
                    surface = vrng.choice(entry["synonyms"])
                elif choice < 0.22:
                    fz = _corrupt(name, vrng, term_norms)
                    if fz is not None:
                        surface, mtype = fz, "SYSTEMATIC"
                elif choice < 0.28:
                    dv = _dehyphenate(name, vrng, term_norms)
                    if dv is not None:
                        surface, mtype = dv, "SYSTEMATIC"
                elif choice < 0.31:
                    surface, mtype = entry["formula"], "FORMULA"
                elif choice < 0.34 and entry.get("cas"):
                    surface, mtype = entry["cas"], "IDENTIFIER"
                elif choice < 0.42 and entry["abbrev"]:
                    # definition line + 1-2 bare usages
                    fb.emit_line_with(
                        f"{cmt} reagent ",
                        [(name, entry["name_type"], cid), (f"({entry['abbrev']})", None, None)],
                        " is measured",
                    )
                    # record the ABBR token inside the parens we just wrote:
                    # recompute its span from the last segment layout
                    abbr = entry["abbrev"]
                    line = f"{cmt} reagent {name} ({abbr}) is measured\n"
                    abbr_start = fb.pos - len(line) + line.index("(") + 1
                    fb.mentions.append(
                        {
                            "start": abbr_start,
                            "end": abbr_start + len(abbr),
                            "text": abbr,
                            "mtype": "ABBREVIATION",
                            "compound_id": cid,
                        }
                    )
                    for _ in range(vrng.randint(1, 2)):
                        fb.emit(_filler_line(vrng, lang))
                        fb.emit_line_with(
                            f"{cmt} add 5 ml of ",
                            [(abbr, "ABBREVIATION", cid)],
                            " to the mix",
                        )
                    continue

                ctx = vrng.randint(0, 2)
                single_token = surface.isalnum()
                if ctx == 2 and single_token:
                    if vrng.random() < 0.4:
                        up = surface.upper()
                        fb.emit_line_with("", [(up, mtype, cid)], f"_K = {vrng.randint(1, 99)}")
                    else:
                        fb.emit_line_with("", [(surface, mtype, cid)], f"_level = {vrng.randint(1, 99)}")
                elif ctx == 1:
                    fb.emit_line_with('msg = "reaction with ', [(surface, mtype, cid)], ' complete"')
                else:
                    fb.emit_line_with(f"{cmt} the ", [(surface, mtype, cid)], " sample is prepared")

            # hard negatives, ~4% of files (FIXTURES §A3): hot-name lookalike
            # identifier — the detector is EXPECTED to fire on the embedded
            # token (recorded with compound_id=null; costs triple-precision
            # only if the doc never truly mentions the compound)
            if vrng.random() < 0.04:
                hot_entry = by_id[vrng.choice((0, 1))]
                hot = hot_entry["canonical_name"]
                sfx = vrng.choice(("mark", "fall", "proof", "tight"))
                start = fb.pos  # surface begins the line
                fb.emit_line_with("", [(hot, None, None)], f"_{sfx} = {vrng.randint(1, 9)}")
                fb.mentions.append(
                    {
                        "start": start,
                        "end": start + len(hot),
                        "text": hot,
                        "mtype": hot_entry["name_type"],
                        "compound_id": None,
                    }
                )

            for _ in range(vrng.randint(1, 4)):
                fb.emit(_filler_line(vrng, lang))

            content = fb.content()
            sha = hashlib.sha256(content.encode()).hexdigest()
            files.append(
                {"repo": repo, "path": path, "commit": commits[v], "lang": lang, "content": content}
            )
            manifest.append({"repo": repo, "path": path, "commit": commits[v], "content_sha": sha})
            if v == latest:
                for m in fb.mentions:
                    goldens.append(
                        {
                            "repo": repo,
                            "path": path,
                            "commit": commits[v],
                            "start": m["start"],
                            "end": m["end"],
                            "text": m["text"],
                            "mtype": m["mtype"],
                            "compound_id": m["compound_id"],
                        }
                    )

    return files, goldens, manifest


_FILES_SCHEMA = pa.schema(
    [
        ("repo", pa.string()),
        ("path", pa.string()),
        ("commit", pa.string()),
        ("lang", pa.string()),
        ("content", pa.string()),
    ]
)
_MANIFEST_SCHEMA = pa.schema(
    [
        ("repo", pa.string()),
        ("path", pa.string()),
        ("commit", pa.string()),
        ("content_sha", pa.string()),
    ]
)
_MENTIONS_SCHEMA = pa.schema(
    [
        ("repo", pa.string()),
        ("path", pa.string()),
        ("commit", pa.string()),
        ("start", pa.int32()),
        ("end", pa.int32()),
        ("text", pa.string()),
        ("mtype", pa.string()),
        ("compound_id", pa.int64()),
    ]
)

# read-only corpus context for fork-pool workers; set in the parent
# BEFORE the pool forks so children inherit it without pickling
_POOL_CTX: dict | None = None


def _pool_build_span(span: tuple[int, int]):
    lo, hi = span
    files, goldens, manifest = _build_file_range(lo, hi, _POOL_CTX)
    return (
        pa.Table.from_pylist(files, schema=_FILES_SCHEMA),
        pa.Table.from_pylist(goldens, schema=_MENTIONS_SCHEMA),
        pa.Table.from_pylist(manifest, schema=_MANIFEST_SCHEMA),
    )


def _stream_corpus(out: Path, dict_rows, term_norms, n_files: int, chunk_files: int):
    """Constant-memory, multi-core corpus pass for multi-million-file
    scales.  The single-shot build_corpus holds every row-dict in Python
    memory at once — at 14.4M files that exceeds this host's RAM.  The
    per-file RNG makes every ``[lo, hi)`` span independent, so this path
    fans the loop across a fork pool and appends each chunk straight to
    the three corpus parquet files through persistent writers, keeping
    only the compact golden-mentions arrow table for oracle derivation.

    Row CONTENT and ORDER are identical to build_corpus → single write
    (pool imap preserves span order); only parquet row-group boundaries
    differ (chunk-local 16384-row groups), which no reader depends on —
    tests/test_fixture_gen_stream.py asserts table equality, so
    GEN_VERSION does not bump for this path."""
    import multiprocessing as mp

    global _POOL_CTX
    _guard_filler_vocab(term_norms)
    spans = [
        (lo, min(lo + chunk_files, n_files)) for lo in range(0, n_files, chunk_files)
    ]
    counts = {"source_files": 0, "manifest": 0}
    writers: dict[str, pq.ParquetWriter] = {}
    gold_parts: list[pa.Table] = []
    _POOL_CTX = _corpus_ctx(dict_rows, term_norms, n_files)
    try:
        nproc = min(16, os.cpu_count() or 4, len(spans))
        with mp.get_context("fork").Pool(processes=nproc) as pool:
            for files_tbl, gold_tbl, man_tbl in pool.imap(_pool_build_span, spans):
                # golden_mentions is NOT streamed: it is held (compact,
                # arrow) for oracle derivation anyway and written once
                # from pandas in generate(), so the file is bit-identical
                # (incl. pandas schema metadata) to the in-memory path
                for name, tbl in (
                    ("source_files", files_tbl),
                    ("manifest", man_tbl),
                ):
                    w = writers.get(name)
                    if w is None:
                        w = writers[name] = pq.ParquetWriter(
                            out / f"{name}.parquet", tbl.schema
                        )
                    # small row groups so Spark's scan can split a single
                    # fixture file across tasks
                    w.write_table(tbl, row_group_size=16384)
                    counts[name] += tbl.num_rows
                gold_parts.append(gold_tbl)
    finally:
        _POOL_CTX = None
        for w in writers.values():
            w.close()

    golden_pdf = pa.concat_tables(gold_parts).to_pandas()
    # dtype parity with the pd.DataFrame(list-of-dicts) path: python ints
    # infer as int64 there, while the arrow table carries int32 spans
    golden_pdf["start"] = golden_pdf["start"].astype("int64")
    golden_pdf["end"] = golden_pdf["end"].astype("int64")
    return counts, golden_pdf


def _csv_sha256(pdf: pd.DataFrame, chunk: int = 2_000_000) -> str:
    """sha256 of ``pdf.to_csv(index=False)`` without materializing the
    multi-GB CSV string at the big scales.  Chunked to_csv (header only on
    the first slice) concatenates to exactly the single-shot bytes."""
    if len(pdf) == 0:
        return hashlib.sha256(pdf.to_csv(index=False).encode()).hexdigest()
    h = hashlib.sha256()
    for lo in range(0, len(pdf), chunk):
        h.update(pdf.iloc[lo : lo + chunk].to_csv(index=False, header=(lo == 0)).encode())
    return h.hexdigest()


def generate(
    scale: str,
    out_dir: str | Path,
    stream: bool | None = None,
    chunk_files: int = 204_800,
) -> dict:
    n_files, n_structures = SCALES[scale]
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rng = random.Random(SEED)

    dict_rows, term_norms = build_dictionary(n_structures, rng)
    dict_pdf = pd.DataFrame(dict_rows)

    if stream is None:
        # the in-memory path peaks at roughly n_files/100k GiB of Python
        # row-dicts; stream anything above 1M files
        stream = n_files >= 1_000_000
    if stream:
        counts, golden_pdf = _stream_corpus(
            out, dict_rows, term_norms, n_files, chunk_files
        )
    else:
        files, goldens, manifest = build_corpus(dict_rows, term_norms, n_files, rng)
        golden_pdf = pd.DataFrame(goldens)

    golden_pdf["compound_id"] = golden_pdf["compound_id"].astype("Int64")
    triples_pdf = derive_golden_triples(golden_pdf, dict_pdf)
    links_pdf = derive_golden_links(golden_pdf, dict_pdf)

    def write(name: str, pdf: pd.DataFrame, schema: pa.schema | None = None):
        tbl = pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
        # small row groups so Spark's scan can split a single fixture file
        # across tasks (one giant row group = a one-task scan bottleneck)
        pq.write_table(tbl, out / f"{name}.parquet", row_group_size=16384)
        return len(pdf)

    if not stream:
        counts = {
            "source_files": write("source_files", pd.DataFrame(files)),
            "manifest": write("manifest", pd.DataFrame(manifest)),
        }
    counts["golden_mentions"] = write("golden_mentions", golden_pdf, _MENTIONS_SCHEMA)
    counts["compound_dict"] = write(
        "compound_dict",
        dict_pdf,
        pa.schema(
            [
                ("compound_id", pa.int64()),
                ("canonical_name", pa.string()),
                ("name_type", pa.string()),
                ("synonyms", pa.list_(pa.string())),
                ("formula", pa.string()),
                ("cas", pa.string()),
                ("smiles", pa.string()),
                ("inchi", pa.string()),
                ("inchikey", pa.string()),
                ("abbrev", pa.string()),
                ("priority", pa.int32()),
            ]
        ),
    )
    counts["golden_triples"] = write("golden_triples", triples_pdf)
    counts["golden_links"] = write(
        "golden_links",
        links_pdf,
        pa.schema(
            [
                ("repo", pa.string()),
                ("path", pa.string()),
                ("commit", pa.string()),
                ("start", pa.int32()),
                ("end", pa.int32()),
                ("method", pa.string()),
            ]
        ),
    )
    counts["multimodal_expected"] = write(
        "multimodal_expected", expected_multimodal_features()
    )

    meta = {
        "scale": scale,
        "gen_version": GEN_VERSION,
        "seed": SEED,
        "n_files": n_files,
        "n_structures": n_structures,
        "rows": {k: counts[k] for k in _TABLES},
        "golden_triples_sha256": _csv_sha256(triples_pdf),
    }
    (out / "manifest.json").write_text(json.dumps(meta, indent=2))
    return meta


def expected_multimodal_features(n: int = 64) -> pd.DataFrame:
    """Pure-Python (no Spark) expected output of the multimodal driver
    query: synthesize_media(n) -> extract_features (fake-codec contract:
    feature = first 16 uint16 of sha256(payload) / 65535) -> per-kind
    (n, total_bytes, f0_sum) aggregate.  Written per fixture dir so the
    driver's DuckDB oracle can hash-compare the mapInPandas plumbing
    end-to-end.  The payload and feature formulas are IMPORTED from
    kgx/extras/multimodal.py (not re-implemented as literals), so a kernel
    change breaks here at test time instead of silently invalidating the
    stamped oracle (round-3 advice item)."""
    from kgx.extras.multimodal import _fake_feature, fake_payload

    agg: dict[str, list] = {}
    for i in range(n):
        kind = ("image", "audio", "video")[i % 3]
        payload = fake_payload(i)
        f0 = _fake_feature(payload)[0]
        a = agg.setdefault(kind, [0, 0, 0.0])
        a[0] += 1
        a[1] += len(payload)
        a[2] += f0
    return pd.DataFrame(
        [
            {
                "kind": k,
                "n": np.int64(v[0]),
                "total_bytes": np.int64(v[1]),
                "f0_sum": round(v[2], 4),
            }
            for k, v in sorted(agg.items())
        ]
    )


# the checkout's tests/fixtures, wherever the checkout lives
FIXTURE_BASE = Path(__file__).resolve().parents[2] / "tests" / "fixtures"

_TABLES = (
    "source_files",
    "compound_dict",
    "golden_mentions",
    "golden_triples",
    "golden_links",
    "manifest",
    "multimodal_expected",
)


def ensure(scale: str, base: str | Path = FIXTURE_BASE) -> Path:
    """Generate-if-missing; returns the fixture directory.  A fixture dir
    is regenerated wholesale when any expected table is absent OR when its
    manifest's gen_version stamp mismatches GEN_VERSION — partial or
    version staleness must never survive."""
    out = Path(base) / scale
    complete = (out / "manifest.json").exists() and all(
        (out / f"{t}.parquet").exists() for t in _TABLES
    )
    if complete:
        try:
            stamped = json.loads((out / "manifest.json").read_text()).get("gen_version")
        except (ValueError, OSError):
            stamped = None
        complete = stamped == GEN_VERSION
    if not complete:
        generate(scale, out)
    return out


if __name__ == "__main__":
    import sys

    sc = sys.argv[1] if len(sys.argv) > 1 else "small"
    meta = generate(sc, FIXTURE_BASE / sc)
    print(json.dumps(meta, indent=2))
