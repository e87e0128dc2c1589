"""Seeded benchmark inputs with planted truth.

Two input families, both pure functions of (seed, size):

- crawl pages (``crawl_inputs``): a base corpus from
  ``acxspark.corpus.generate`` (its default dup mix: 8% exact, 12% near,
  4% containment, the rest singletons) plus re-captured URL variants of
  ~5% of the pages (upper-cased host, tracking params, a fragment, a
  later capture time) and PII planted in ~3% of the singleton texts;
  and one crawl delta: half byte-identical re-fetches of base pages
  under new URLs, half new pages, a third of which are small-edit
  variants of base pages.
- a JSONL contact book (``contact_book``) with planted duplicate
  identities (case and whitespace email variants of an earlier record,
  repeated lines of records whose email is not a string), unparseable
  lines, empty lines and non-string emails.

Inputs are written as files (parquet part files, JSONL); the program
under test only ever reads those files. The truth travels beside them
as plain Python objects.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from acxspark.corpus import generate, render_html

PAGE_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])

#: part files per page table, fixed so the same seed gives the same files
PAGE_PARTS = 8


@dataclass
class CrawlTruth:
    group: dict[str, int]            # base url -> planted cluster id
    survivor: dict[str, str]         # base url -> url kept by URL dedup
    n_canonical: int                 # distinct pages after URL dedup
    pii: dict[str, list[str]]        # surviving url -> planted PII strings
    # (delta url, surviving base url it duplicates, "refetch" | "edit");
    # new pages are in no pair
    delta_pairs: list[tuple[str, str, str]] = field(default_factory=list)


def _write_pages(df: pd.DataFrame, path: Path) -> None:
    path.mkdir(parents=True, exist_ok=True)
    table = pa.Table.from_pandas(df, schema=PAGE_SCHEMA, preserve_index=False)
    step = -(-len(df) // PAGE_PARTS)
    for i in range(PAGE_PARTS):
        pq.write_table(table.slice(i * step, step), path / f"part-{i:03d}.parquet")


def _variant_url(url: str, k: int) -> str:
    # https://siteN.example/pathM -> HTTPS://SITEN.EXAMPLE/pathM?utm_...#...
    scheme, rest = url.split("://", 1)
    host, path = rest.split("/", 1)
    return (f"{scheme.upper()}://{host.upper()}/{path}"
            f"?utm_source=feed{k % 7}&utm_medium=rss#section-{k % 5}")


def _page(url: str, ts, text: str, lang: str) -> dict:
    return {"url": url, "warc_ts": ts, "html": render_html(url, text),
            "text": text, "lang": lang}


def crawl_inputs(seed: int, n_base: int, n_delta: int, out: Path) -> CrawlTruth:
    """Write ``out/base`` and ``out/delta`` page tables; return the truth."""
    rng = np.random.default_rng([seed, 1])
    corpus = generate(n_docs=n_base, seed=seed)
    web = corpus.webpages.copy()
    web["warc_ts"] = pd.to_datetime(web["warc_ts"]).dt.tz_localize("UTC")
    group = dict(zip(corpus.truth_clusters["url"],
                     corpus.truth_clusters["cluster_id"]))
    sizes = corpus.truth_clusters["cluster_id"].value_counts()
    singleton = web["url"].map(lambda u: sizes[group[u]] == 1).to_numpy()
    single_idx = np.flatnonzero(singleton)

    # PII in ~3% of the singletons: the redact stage must mask all of it
    pii: dict[str, list[str]] = {}
    for j, i in enumerate(rng.choice(single_idx, size=max(1, len(single_idx) // 33),
                                     replace=False)):
        email = f"owner{seed}x{j}@mail{j % 13}.example.org"
        phone = f"+1555{int(rng.integers(10**6, 10**7))}"
        text = f"{web.at[i, 'text']} write to {email} or call {phone}"
        web.at[i, "text"] = text
        web.at[i, "html"] = render_html(web.at[i, "url"], text)
        pii[web.at[i, "url"]] = [email, phone]

    # re-captured URL variants of ~5% of the pages, captured one day later
    survivor = {u: u for u in web["url"]}
    variants = []
    for k, i in enumerate(rng.choice(len(web), size=max(1, n_base // 20),
                                     replace=False)):
        row = web.iloc[i]
        v = _variant_url(row["url"], k)
        variants.append(_page(v, row["warc_ts"] + pd.Timedelta(days=1),
                              row["text"], row["lang"]))
        survivor[row["url"]] = v
    pii = {survivor[u]: p for u, p in pii.items()}
    base = pd.concat([web, pd.DataFrame(variants)], ignore_index=True)
    base = base.iloc[rng.permutation(len(base))].reset_index(drop=True)
    _write_pages(base, out / "base")

    truth = CrawlTruth(group=group, survivor=survivor, n_canonical=n_base,
                       pii=pii)
    _write_pages(_crawl_delta(seed, web, single_idx, n_delta, rng, truth),
                 out / "delta")
    return truth


def _crawl_delta(seed: int, web: pd.DataFrame, single_idx: np.ndarray,
                 n_delta: int, rng: np.random.Generator,
                 truth: CrawlTruth) -> pd.DataFrame:
    """Half re-fetches, half new pages (a third of them small edits)."""
    ts = pd.Timestamp("2026-01-01", tz="UTC")
    n_refetch = n_delta // 2
    n_edit = (n_delta - n_refetch) // 3
    n_fresh = n_delta - n_refetch - n_edit
    rows = []
    for k, i in enumerate(rng.choice(len(web), size=n_refetch, replace=False)):
        src = web.iloc[i]
        url = f"https://mirror{k % 31}.example/s{seed}/r{k}"
        rows.append(_page(url, ts, src["text"], src["lang"]))
        truth.delta_pairs.append((url, truth.survivor[src["url"]], "refetch"))
    for k, i in enumerate(rng.choice(single_idx, size=n_edit, replace=False)):
        src = web.iloc[i]
        toks = src["text"].split(" ")
        # 1-3% token substitutions: shingle Jaccard stays well above 0.8
        n_sub = max(1, int(len(toks) * float(rng.uniform(0.01, 0.03))))
        for p in rng.choice(len(toks), size=n_sub, replace=False):
            toks[p] = toks[int(rng.integers(0, len(toks)))]
        url = f"https://edits{k % 31}.example/s{seed}/e{k}"
        rows.append(_page(url, ts, " ".join(toks), src["lang"]))
        truth.delta_pairs.append((url, truth.survivor[src["url"]], "edit"))
    fresh = generate(n_docs=n_fresh, seed=seed + 7919, exact_frac=0.0,
                     near_frac=0.0, contain_frac=0.0).webpages
    for k, r in enumerate(fresh.itertuples(index=False)):
        url = f"https://fresh{k % 31}.example/s{seed}/n{k}"
        rows.append(_page(url, ts, r.text, r.lang))
    delta = pd.DataFrame(rows)
    return delta.iloc[rng.permutation(len(delta))].reset_index(drop=True)


@dataclass
class ContactTruth:
    keep_ids: set[str]         # records the chain must keep exactly once
    dup_ids: set[str]          # duplicate identities it must drop
    repeat_ids: set[str]       # kept records whose line was repeated once
    n_unparseable: int         # lines every command must pass verbatim
    emails: set[str]           # lower-cased emails that redact must mask
    phones: set[str]           # phone digit strings that redact must mask

    @property
    def n_planted(self) -> int:
        return len(self.dup_ids) + len(self.repeat_ids)


_FIRST = ["ada", "bob", "cy", "dee", "eve", "fay", "gus", "hal", "ivy", "jo"]
_DOMAINS = ["example.com", "mail.example.org", "corp.example.net"]


def contact_book(seed: int, n_lines: int, path: Path) -> ContactTruth:
    """Write a JSONL contact book of about ``n_lines`` lines.

    Mix: ~6% duplicate identities (an earlier record's email in another
    case with surrounding whitespace), ~1% records with a non-string
    email, each repeated once verbatim (also a planted duplicate),
    ~1% unparseable lines and a few empty lines; the rest unique."""
    rng = np.random.default_rng([seed, 2])
    truth = ContactTruth(set(), set(), set(), 0, set(), set())
    lines: list[str] = []
    kinds = rng.choice(5, size=n_lines, p=[0.915, 0.06, 0.01, 0.01, 0.005])
    originals: list[str] = []
    for i, kind in enumerate(kinds):
        rid = f"c{seed}-{i}"
        phone = f"555{int(rng.integers(10**6, 10**7))}"
        rec = {"id": rid, "name": f"  {_FIRST[i % 10].title()} N{i} ",
               "phone": f"+1 ({phone[:3]}) {phone[3:6]}-{phone[6:]}",
               "note": f"met at event {i % 97}", "created_at":
               f"2025-{1 + i % 12:02d}-{1 + i % 28:02d}T00:00:00Z"}
        if kind == 1 and originals:
            # duplicate identity: same email modulo case and whitespace
            email = originals[int(rng.integers(0, len(originals)))]
            rec["email"] = f" {email.upper()}\t"
            truth.dup_ids.add(rid)
        elif kind == 2:
            rec["email"] = [None, 12345, True][i % 3]
            line = json.dumps(rec)
            lines += [line, line]  # the repeat is dropped by whole-line key
            truth.keep_ids.add(rid)
            truth.repeat_ids.add(rid)
            truth.phones.add("1" + phone)
            continue
        elif kind == 3:
            lines.append(f'{{"id": "{rid}", "note": "truncated record')
            truth.n_unparseable += 1
            continue
        elif kind == 4:
            lines.append("")
            continue
        else:
            email = f"{_FIRST[i % 10]}.{seed}.{i}@{_DOMAINS[i % 3]}"
            originals.append(email)
            rec["email"] = email if i % 4 else f"  {email.title()}"
            truth.keep_ids.add(rid)
            truth.emails.add(email)
        truth.phones.add("1" + phone)
        lines.append(json.dumps(rec))
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text("\n".join(lines) + "\n")
    return truth
