"""Deterministic synthetic Common-Crawl-style `pages` table generator.

Produces rows of the BASELINE.json input_hint shape
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``
per FIXTURES.md §1:

- Zipf-skewed host distribution (a few hosts own most rows — exercises
  salted repartitioning);
- boilerplate chrome (nav/header/footer/sidebar with high link density)
  wrapping real content (h1 title, h2 sections, paragraphs, a
  markdown-convertible table, a figure with caption);
- multi-page docs with hyphen-split sentences across <div class="page">
  boundaries (exercises the page-merge rule);
- ~5% malformed/truncated rows (failure-code path);
- mixed declared charsets (utf-8 / euc-kr) for deterministic decoding.

Row i is generated from ``random.Random(seed * 1_000_003 + i)`` so content is
a pure function of (seed, i) — independent of generation order, partition
layout, or batch size. No wall clock anywhere (warc_ts = fixed epoch +
seeded offset).
"""

from __future__ import annotations

import datetime as dt
import random

_EN_WORDS = (
    "data spark engine web page extract content pipeline shuffle partition "
    "document token chunk table figure caption section header paragraph "
    "throughput executor cluster manifest resume golden parquet column row "
    "vector hash join window batch stream skew salt broadcast schema plan"
).split()

_KO_WORDS = "데이터 엔진 문서 추출 파이프라인 분산 처리 속도 검증 결과 시스템 분석 언어 모델 학습".split()
_ZH_WORDS = "数据 引擎 文档 提取 管道 分布 处理 速度 验证 结果 系统 分析 语言 模型 学习".split()

_EPOCH = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)

N_HOSTS = 50
# Zipf-ish: host rank r gets weight 1/(r+1); cumulative table precomputed.
_HOST_W = [1.0 / (r + 1) for r in range(N_HOSTS)]
_HOST_CUM = []
_acc = 0.0
for _w in _HOST_W:
    _acc += _w
    _HOST_CUM.append(_acc)
_HOST_TOTAL = _acc


def _pick_host(rng: random.Random) -> int:
    x = rng.random() * _HOST_TOTAL
    for i, c in enumerate(_HOST_CUM):
        if x <= c:
            return i
    return N_HOSTS - 1


def _sentence(rng: random.Random, words: list[str], n: int) -> str:
    ws = [rng.choice(words) for _ in range(n)]
    s = " ".join(ws) if words is _EN_WORDS else "".join(ws)
    return s[0].upper() + s[1:] + "." if words is _EN_WORDS else s + "。"


def _paragraph(rng: random.Random, words: list[str]) -> str:
    return " ".join(_sentence(rng, words, rng.randint(6, 14))
                    for _ in range(rng.randint(2, 5)))


def _nav_html(rng: random.Random) -> str:
    links = "".join(
        f'<li><a href="/{w}">{w}</a></li>' for w in rng.sample(_EN_WORDS, 6)
    )
    return f"<nav><ul>{links}</ul></nav>"


def _sidebar_html(rng: random.Random) -> str:
    links = " ".join(
        f'<a href="/tag/{w}">{w}</a>' for w in rng.sample(_EN_WORDS, 8)
    )
    return f'<div class="sidebar"><p>{links}</p></div>'


def _table_html(rng: random.Random) -> str:
    cols = rng.randint(2, 4)
    headers = rng.sample(_EN_WORDS, cols)
    head = "".join(f"<th>{h}</th>" for h in headers)
    body = ""
    for _ in range(rng.randint(2, 4)):
        body += "<tr>" + "".join(
            f"<td>{rng.choice(_EN_WORDS)} {rng.randint(0, 999)}</td>"
            for _ in range(cols)
        ) + "</tr>"
    return f"<table><tr>{head}</tr>{body}</table>"


def _content_html(rng: random.Random, words: list[str], title: str) -> list[str]:
    parts = [f"<h1>{title}</h1>"]
    for s in range(rng.randint(1, 3)):
        parts.append(f"<h2>Section {s + 1} {rng.choice(_EN_WORDS)}</h2>")
        for _ in range(rng.randint(1, 3)):
            parts.append(f"<p>{_paragraph(rng, words)}</p>")
    if rng.random() < 0.6:
        parts.append(_table_html(rng))
    if rng.random() < 0.5:
        w = rng.choice(_EN_WORDS)
        parts.append(
            f'<figure><img src="/img/{w}.png" alt="{w}">'
            f"<figcaption>Figure of {w}</figcaption></figure>"
        )
    if rng.random() < 0.2:
        parts.append(f"<pre>$$ {rng.choice(_EN_WORDS)}^2 + 1 $$</pre>")
    return parts


def make_page(i: int, seed: int = 42) -> dict:
    rng = random.Random(seed * 1_000_003 + i)
    host = _pick_host(rng)
    lang = rng.choices(["en", "ko", "zh", "unknown"], weights=[70, 15, 10, 5])[0]
    words = {"en": _EN_WORDS, "ko": _KO_WORDS, "zh": _ZH_WORDS,
             "unknown": _EN_WORDS}[lang]
    title = " ".join(rng.choice(_EN_WORDS).capitalize() for _ in range(3))
    url = f"https://host{host}.example/{rng.choice(_EN_WORDS)}/{i}"
    ts = _EPOCH + dt.timedelta(seconds=rng.randint(0, 365 * 24 * 3600))

    content = _content_html(rng, words, title)

    multipage = rng.random() < 0.3
    if multipage:
        # split content into 2-3 page divs; hyphen-split a word across the
        # first boundary to exercise the merge rule
        n_pages = rng.randint(2, 3)
        cut = max(1, len(content) // n_pages)
        pages_parts = [content[k * cut:(k + 1) * cut] for k in range(n_pages - 1)]
        pages_parts.append(content[(n_pages - 1) * cut:])
        pages_parts = [p for p in pages_parts if p]
        if len(pages_parts) >= 2 and rng.random() < 0.7:
            pages_parts[0].append("<p>This sentence is hyphen-</p>")
            pages_parts[1].insert(0, "<p>ated across the page boundary.</p>")
        body = "".join(
            f'<div class="page">{"".join(p)}</div>' for p in pages_parts
        )
    else:
        body = "".join(content)

    charset = "euc-kr" if (lang == "ko" and rng.random() < 0.5) else "utf-8"
    # author metadata: ~half the docs declare 1-2 <meta name="author"> tags
    author_meta = ""
    if rng.random() < 0.5:
        n_auth = 2 if rng.random() < 0.2 else 1
        for _ in range(n_auth):
            nm = f"{rng.choice(_EN_WORDS).capitalize()} {rng.choice(_EN_WORDS).capitalize()}"
            author_meta += f'<meta name="author" content="{nm}">'
    html_text = (
        "<!DOCTYPE html><html><head>"
        f'<meta charset="{charset}">{author_meta}'
        f"<title>{title}</title></head><body>"
        f"{_nav_html(rng)}<header><p>site chrome banner</p></header>"
        f"{body}{_sidebar_html(rng)}"
        "<footer><p>copyright footer</p></footer></body></html>"
    )

    roll = rng.random()
    if roll < 0.02:
        raw = b""  # EMPTY_HTML path
    elif roll < 0.05:
        raw = html_text.encode(charset, errors="replace")[: rng.randint(10, 200)]
    else:
        raw = html_text.encode(charset, errors="replace")

    return {
        "url": url,
        "warc_ts": ts,
        "html": raw,
        "text": "",  # pipeline recomputes its own
        "lang": lang,
    }


def make_pages(n: int, seed: int = 42) -> list[dict]:
    return [make_page(i, seed) for i in range(n)]
