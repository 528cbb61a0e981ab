"""Differential tests: optimized kernels vs their naive formulations.

The fast paths (scrub prefilter, langid ASCII fast path + tokenized Latin
tier, mojibake lead-char prefilter) must be BYTE-IDENTICAL to the naive
implementations on every input — these tests are the drift guard: add a rule
or marker that evades a prefilter and they fail.
"""

from __future__ import annotations

import re
import sys

import pandas as pd
import pytest

from bytefreq_spark.langid import detect_language
from bytefreq_spark.scrub import MOJIBAKE_MAP, SCRUB_RULES, scrub_series
from bytefreq_spark.synth import gen_transcripts_pandas
from tests.reference_paths import (
    _minhash_batch_naive,
    detect_language_naive,
    repair_encoding_series,
    scrub_series_naive,
    text_features_naive,
)

ADVERSARIAL = [
    "",
    None,
    "no pii here at all",
    "mail me at a.b+c@example.co.uk now",
    "card 4111 1111 1111 1111 and ip 10.0.0.1",
    "call +44 (0)20 7946 0958 or 555-123-4567x",
    "postcode SW1A 1AA and ssn 123-45-6789",
    "That's BULLSHIT and you're a DumbAss",
    "harassment assessment classification",  # tox stems inside longer words
    "digits only 1234567890123456",
    "Ã© broken cafÃ© text â€” with mojibake â€œquotedâ€",
    "clean unicode é ü 丙 Пятницкая",
    "the quick brown fox",          # en markers
    "le chat est sur la table",     # fr markers
    "der Hund ist nicht da für",    # de markers
    "el perro es un animal",        # es markers
    "一二三四五六七八九十" * 3,      # script tier
    "これはテストです",              # hiragana → ja tier
    "データ品質フィルタを実行します",   # katakana/han mix → ja
    "漢字が九割を占める文章でも大丈夫",  # kanji-heavy ja (kana clears 10%)
    "Привет как дела сегодня",      # cyrillic
    "데이터 품질 분석을 실행합니다",     # hangul → ko tier
    "韓國語는 재미있다",               # hanja/hangul mix → ko
    "ระบบกรองคุณภาพข้อมูล",           # thai tier
    "בדיקת איכות נתונים",            # hebrew tier
    "یہ ڈیٹا کے معیار کی جانچ ہے",    # urdu (ڈ, ے) ahead of fa/ar
    "بررسی کیفیت داده ها با گفتگو",    # persian (گ) ahead of ar
    "تحليل جودة البيانات في المجموعة",  # arabic (shared block only)
    "word " * 500,                  # long
    "x" * 3000,                     # over CAP_CHARS
    "the_end the1 the,end the end", # \b vs \w+ token boundary edges
    "UNE une Une uNe",              # case-insensitive optional-e marker
    "\ud800",                       # lone surrogates: legal in a Python str
    "the \udfff and \ud83d of it",  # ...inside Latin marker text
    "\ud800\ud800\ud800 123-45-6789",  # ...as a run, next to a scrub hit
    "これは\udc00テストです",          # ...inside the script tier
]


def _series():
    pdf = gen_transcripts_pandas(300)
    extra = pd.Series(ADVERSARIAL, dtype=object)
    return pd.concat([pdf["text"], extra], ignore_index=True)


def test_scrub_fast_equals_naive():
    s = _series()
    assert scrub_series(s).equals(scrub_series_naive(s))


def test_scrub_prefilter_is_conservative():
    """Every rule's own matches must be reachable through the prefilter:
    synthesize a matching string per rule and require it to be rewritten."""
    probes = {
        "email": "x a@b.co x", "card": "4111 1111 1111 1111",
        "ipv4": "1.2.3.4", "phone": "+12345678901",
        "uk_postcode": "SW1A 1AA", "ssn": "123-45-6789",
        "toxicity": "bullshit",
    }
    assert set(probes) == {name for name, _, _ in SCRUB_RULES}
    s = pd.Series(list(probes.values()))
    out = scrub_series(s)
    assert not out.equals(s), "prefilter swallowed a rule's matches"
    assert out.equals(scrub_series_naive(s))


def test_scrub_case_folds_equal_naive():
    """The toxicity rule is IGNORECASE, and Python's ``re`` folds some
    non-ASCII code points onto ASCII letters (U+017F 'ſ' onto s, U+0130
    'İ' and U+0131 'ı' onto i, U+212A KELVIN SIGN onto k); the first three
    escape a ``str.lower()`` stem check.  Substitute every code point that
    folds onto a letter of a toxicity word into that word and require the
    prefiltered kernel to rewrite it exactly as the naive table does."""
    words = ["dumbass", "jackass", "dipshit", "bullshit"]
    letters = "".join(sorted(set("".join(words))))
    every = "".join(
        chr(cp) for cp in range(sys.maxunicode + 1)
        if not 0xD800 <= cp < 0xE000)
    folding = set(re.findall(f"[{letters}]", every, re.IGNORECASE))
    rows = []
    for ch in sorted(folding):
        for w in words:
            for i, c in enumerate(w):
                if ch != c and re.fullmatch(re.escape(ch), c, re.IGNORECASE):
                    rows.append(f"you {w[:i]}{ch}{w[i + 1:]}!")
    assert {"\u017f", "\u0130", "\u0131", "\u212a"} <= folding
    s = pd.Series(rows, dtype=object)
    want = scrub_series_naive(s)
    assert (want.str.count("<TOX>") == 1).all()
    assert scrub_series(s).tolist() == want.tolist()


def test_scrub_sparse_contract():
    """scrub_series_sparse is the Arrow-return-pruned variant the featurize
    UDF uses: identity rows (unchanged, non-NULL) come back None so the JVM
    coalesce restores them without re-shipping text; NULL rows keep the
    frozen NULL→"" contract; rewritten rows carry their scrubbed text.
    coalesce-composition must equal scrub_series on every input."""
    from bytefreq_spark.scrub import scrub_series_sparse

    s = pd.Series(
        ["mail a@b.co now", "clean prose", None, "", "version 2 beta",
         "日本語のテキスト", "数字 123-45-6789 あり", "ässhole? no: dumbass"],
        dtype=object,
    )
    sparse = scrub_series_sparse(s)
    dense = scrub_series(s)
    composed = sparse.where(sparse.notna(), s)
    assert composed.tolist() == dense.tolist()
    # the pruning actually happens: unchanged non-NULL rows are None
    assert sparse[1] is None and sparse[5] is None
    # "version 2" passes the digit prefilter but no rule rewrites it —
    # still pruned (the candidate-subset equality check)
    assert sparse[4] is None
    # NULL input stays a real "" (coalesce must NOT resurrect the NULL)
    assert sparse[2] == ""
    # rewritten rows carry the scrub
    assert sparse[0] == "mail <EMAIL> now"
    # (the phone rule precedes ssn in the frozen order, so it wins here)
    assert sparse[6] == "数字 <PHONE> あり"


def test_langid_fast_equals_naive():
    s = _series()
    assert detect_language(s).equals(detect_language_naive(s))


def test_langid_ja_zh_boundary():
    """Golden pinning the r7 kana tier: kana chars are unambiguously
    Japanese, so the ja tier (10% kana) fires BEFORE the shared-han zh tier
    (30% han).  The 10%-kana boundary is pinned exactly on both sides, on
    both implementations."""
    s = pd.Series([
        "これはテストです",                  # kana-only → ja
        "データの品質を分析します",            # han/kana mix → ja
        "数据质量分析引擎在大规模集群上运行",      # pure han → zh
        "カタカナ",                        # katakana block → ja
        "漢字" * 9 + "の" + "漢",           # 1 kana / 20 chars = 5% → zh
        "漢字" * 4 + "の" + "漢",           # 1 kana / 10 chars = 10% → ja
    ])
    fast, naive = detect_language(s), detect_language_naive(s)
    assert fast.equals(naive)
    assert fast.tolist() == ["ja", "ja", "zh", "ja", "zh", "ja"]


def test_langid_ko_th_he_perso_arabic_cascade():
    """Golden pinning the r7 script-tier extension: hangul is unambiguously
    Korean (fires at 10% ahead of the shared-han zh tier, mirroring ja);
    Thai and Hebrew are plain 30% tiers; and the Perso-Arabic cascade runs
    unambiguous-letter tiers (ur: ٹ ڈ ڑ ے at 1%, then fa: پ چ ژ گ at 1%)
    BEFORE the shared Arabic block (ar at 30%) — the ja→zh design one
    script over.  Pinned on both implementations."""
    s = pd.Series([
        "안녕하세요 데이터 품질 필터입니다",        # hangul → ko
        "漢字" * 9 + "은" + "漢",               # 1 hangul / 20 chars = 5% → zh
        "漢字" * 4 + "은" + "漢",               # 1 hangul / 10 chars = 10% → ko
        "경제" + "漢字" * 4,                    # 2 hangul / 10 = 20% → ko
        "ตัวกรองคุณภาพข้อมูล",                  # thai → th
        "מסנן איכות הנתונים",                  # hebrew → he
        "یہ معیار کی جانچ ہے",                 # urdu (ے) → ur
        "این یک آزمایش کیفیت است که گفتگو",     # persian (گ) → fa
        "هذا اختبار جودة البيانات",             # arabic (no ur/fa letters) → ar
        "مرحبا " + "یگ",                       # short: 1 گ / 8 chars ≥1% → fa
    ])
    fast, naive = detect_language(s), detect_language_naive(s)
    assert fast.equals(naive)
    assert fast.tolist() == [
        "ko", "zh", "ko", "ko", "th", "he", "ur", "fa", "ar", "fa",
    ]


def test_langid_script_range_boundaries():
    """The vectorized script tier compares codepoints against SCRIPT_RANGES
    while the naive reference uses the regex classes DERIVED from the same
    ranges — drive rows sitting exactly on every block boundary (first/last
    codepoint in range, plus one outside each edge) through both."""
    from bytefreq_spark.langid import SCRIPT_RANGES

    rows = []
    for ranges in SCRIPT_RANGES.values():
        for lo, hi in ranges:
            rows.append(chr(lo) * 10)          # first in-range cp
            rows.append(chr(hi) * 10)          # last in-range cp
            rows.append(chr(lo - 1) * 10)      # just below
            rows.append(chr(hi + 1) * 10)      # just above
            rows.append((chr(lo) + "ab ") * 5)  # mixed, near threshold
    s = pd.Series(rows)
    assert detect_language(s).equals(detect_language_naive(s))


def test_langid_dotted_I_spec():
    """U+0130 ('İ') is the one codepoint whose lower() is two chars; before
    r6 the fast path (lower-then-tokenize) and the naive path ((?i) regex
    folding) silently disagreed in BOTH directions around it.  The frozen
    token spec — tokenize the ORIGINAL text, compare token.lower() — makes
    'İthe' one non-marker token and 'İs' one non-marker token, on both
    implementations."""
    s = pd.Series([
        "İthe xxqq zz",   # old fast found marker 'the' after lower-split
        "İs it qqq zz",   # old naive (?i)-matched marker 'is' across 'İ'
        "the İ zz",       # standalone İ must not disturb the real marker
    ])
    fast, naive = detect_language(s), detect_language_naive(s)
    assert fast.equals(naive)
    assert fast.tolist() == ["und", "en", "en"]


def test_langid_feature_replay_equals_detect():
    """feature-frame → decision replay must equal the fused classifier on
    the adversarial corpus — this differential is what lets the langid_docs
    oracle replay only the decision layer (from staged features) in DuckDB
    while the feature kernel stays pytest-covered."""
    from bytefreq_spark.langid import (
        LANGID_FEATURE_COLS, MIN_CHARS, SCRIPT_RANGES, decide_from_features,
        langid_feature_frame,
    )

    s = _series()
    feats = langid_feature_frame(s)
    assert list(feats.columns) == LANGID_FEATURE_COLS
    assert decide_from_features(feats).equals(detect_language(s))
    # marker scores exist only for rows the script tier leaves undecided
    # (the decision never reads them on the others)
    lang = detect_language(s)
    score_cols = [c for c in LANGID_FEATURE_COLS if c.endswith("_score")]
    by_script = lang.isin(list(SCRIPT_RANGES)) | (feats["n_chars"] < MIN_CHARS)
    assert by_script.any() and (~by_script).any()
    assert (feats.loc[by_script, score_cols] == 0).all().all()
    assert (feats.loc[~by_script, score_cols] > 0).any().any()
    # empty-series shape safety (a mapInPandas batch can be empty)
    empty = pd.Series([], dtype=object)
    ef = langid_feature_frame(empty)
    assert len(ef) == 0 and list(ef.columns) == LANGID_FEATURE_COLS
    assert len(decide_from_features(ef)) == 0


def test_featurize_scrub_equals_kernel(spark):
    """featurize's ``scrubbed_text`` is the Python kernel on every row:
    Unicode digits and long-s folds, ASCII rule edges, NULL and the
    generated corpus.  The Arrow stage ships ``text`` alone and no JVM
    regex scrub runs beside it."""
    from bytefreq_spark.pipeline import featurize

    rows = [
        "unicode phone +٣٣٣٣٣٣٣٣٣9",
        "bullſhit with a long s",
        "ascii control \x07 bell is still ascii 123-45-6789",
        "mixed café a@b.co",
        None,
        "plain ascii a@b.co",
        "a@b.co x 4111 1111 1111 1111 10.0.0.1 +12345678901 SW1A 1AA "
        "123-45-6789 BULLSHIT",
        "email-in-phone +1 a@b.co 5551234",
        "card13 4111 1111 1111 1 card17 4111 1111 1111 11111",
        "word_adjacent_ssn123-45-6789 but spaced 123-45-6789 ok",
        "(555) 123-4567 ends. 1.2.3.4.5 overlong ip",
    ] + _series().tolist()
    pdf = pd.DataFrame({
        "conv_id": [f"c{i}" for i in range(len(rows))],
        "turn_idx": list(range(len(rows))),
        "role": ["user"] * len(rows),
        "text": rows,
    })
    feats = featurize(spark.createDataFrame(pdf))
    got = feats.select("turn_idx", "text", "scrubbed_text").toPandas()
    got = got.sort_values("turn_idx", ignore_index=True)
    # compare against the text as Spark holds it: a lone surrogate of
    # _series() reaches the JVM as U+FFFD, every other row arrives intact
    sent = pd.Series(rows, dtype=object)
    utf8 = sent.map(lambda t: t is None or not re.search("[\ud800-\udfff]", t))
    assert len(got) == len(rows) and (~utf8).sum() == 4
    assert got["text"][utf8].tolist() == sent[utf8].tolist()
    assert got["scrubbed_text"].tolist() == scrub_series(got["text"]).tolist()
    plan = feats._jdf.queryExecution().executedPlan().toString()
    args = re.findall(r"ArrowEvalPython \[(feats\([^)]*\))", plan)
    assert len(args) == 1 and re.fullmatch(r"feats\(text#\d+\)", args[0])
    assert "regexp_replace" not in plan


def test_repair_encoding_prefilter():
    s = pd.Series(["cafÃ©", "café", "", None, "â€œxâ€", "plain"])
    fixed = repair_encoding_series(s)
    assert fixed.iloc[0] == "café"
    assert fixed.iloc[1] == "café"
    assert fixed.iloc[5] == "plain"
    # naive equivalence
    naive = s.fillna("")
    for bad, good in MOJIBAKE_MAP:
        naive = naive.str.replace(bad, good, regex=False)
    assert fixed.equals(naive)


def test_text_features_fast_equals_naive():
    from bytefreq_spark.quality import text_features

    s = _series()
    a, b = text_features(s), text_features_naive(s)
    pd.testing.assert_frame_equal(a, b)


def test_text_features_pack_tiers_equal_naive():
    """The packed class count takes its field width from the batch's
    longest row (``w = max_len.bit_length()``, ``64 // w`` fields per int64
    word), so the fields per word change at 2^12 (5 → 4+1, the one-field
    word counted by compare-and-cast), at 2^16 (→ 3+2) and at 2^21
    (→ 2+2+1).  Drive batches across each change with rows straddling it,
    including a space-heavy row that sets bit 63 of a 16-bit word's top
    field (the benign-wraparound case), and require bit-identity with the
    naive per-class counts."""
    from bytefreq_spark.quality import text_features

    mixed = "aA9 ,é1234 zz "  # all five classes + punct
    boundary_rows = [
        mixed * 50,                      # well under 2^12
        ("x y " * 1024)[:4095],          # last 5-field width (12 bits)
        ("x y " * 1025)[:4097],          # just over -> 13 bits, 4+1
        (mixed * 5000)[:65535],          # last 4+1 width (16 bits)
        " " * 40000 + "a1",              # space-heavy: top field bit 63 path
        (mixed * 5000)[:65537],          # just over -> 17 bits, 3+2
        "é" * 70000 + " 9A",             # non-ascii at 3+2
    ]
    # each batch's width is set by its MAX row; run every boundary row both
    # at its own width and dragged wider by a longer neighbor
    for anchor in ["", "z" * 5000, "z" * 65535, "z" * 70000]:
        rows = [r for r in boundary_rows if anchor == "" or len(r) <= len(anchor)]
        s = pd.Series(rows + ([anchor] if anchor else []))
        pd.testing.assert_frame_equal(
            text_features(s), text_features_naive(s))
    # rows >= 2^21 chars: 22-bit fields, 2+2+1
    s = pd.Series([mixed * 150000, "short 1A"])
    assert len(s[0]) >= (1 << 21)
    pd.testing.assert_frame_equal(text_features(s), text_features_naive(s))


def _codepoint_tables():
    """Every ``CodepointTable`` instance with its per-codepoint spec, called
    one code at a time: the dense table, the per-unique tail and the dtype
    must all reproduce it."""
    from bytefreq_spark import langid, masks, quality

    hu = masks._HU_TABLE
    return {
        "hu_class": (masks.hu_class_codes,
                     lambda cp: masks._HU_CLASS_INDEX[hu[cp]]),
        "hu_mask": (masks._hu_mask_codes, lambda cp: ord(hu[cp])),
        "word": (langid._is_word,
                 lambda cp: bool(re.fullmatch(r"\w", chr(cp)))),
        "marker_code": (langid._marker_code,
                        lambda cp: langid._CHAR_CODE.get(
                            chr(cp).lower(), langid._INVALID_CODE)),
        "space": (quality._is_space, lambda cp: chr(cp).isspace()),
    }


@pytest.mark.parametrize("name", sorted(_codepoint_tables()))
def test_hu_class_codes_equals_table(name):
    """Each codepoint table agrees with its spec for every code of its
    dense range AND a random sample above it (CJK, Indic, surrogates,
    astral) that goes through the per-unique tail, shuffled together so
    the tail's scatter lands between dense codes."""
    import numpy as np

    table, spec = _codepoint_tables()[name]
    rng = np.random.RandomState(7)
    cps = np.concatenate([
        np.arange(table.size),
        rng.randint(table.size, 0x110000, 2000),
        rng.randint(0xD800, 0xE000, 50),        # lone surrogates
        [0x1F44D, 0x1F3FD, 0x10FFFF, 0x3000, 0xFEFF, 0x200F],
    ]).astype(np.uint32)
    rng.shuffle(cps)
    got = table(cps)
    assert got.dtype == np.dtype(table.dtype)
    want = np.array([spec(int(c)) for c in cps], dtype=table.dtype)
    assert np.array_equal(got, want)


def test_text_features_empty_row_placement():
    """r4: the reduceat row-reduce has two empty-row quirks (interior empty
    → reduceat returns a stray element; TRAILING empty → start == buffer
    length, which reduceat rejects outright).  Pin both, plus all-empty and
    NaN batches."""
    from bytefreq_spark.quality import text_features

    cases = [
        ["", "abc 12", ""],             # leading + trailing empty
        ["abc", "", "x y"],             # interior empty
        ["abc 12", "", "", ""],         # run of trailing empties
        ["", "", ""],                   # all empty
        [None, "a b", None],            # NaN-safety
        ["只有中文字符", "", "ΓΕΙΑ σου"],  # non-LUT scripts + empty
    ]
    for rows in cases:
        s = pd.Series(rows)
        pd.testing.assert_frame_equal(
            text_features(s), text_features_naive(s)
        ), rows
    # degenerate: fully empty batch
    empty = pd.Series([], dtype=object)
    out = text_features(empty)
    assert len(out) == 0


def test_collapse_runs_equals_regex():
    import re

    from bytefreq_spark.masks import collapse_runs_series

    vals = [
        "", "x", "aaa", "aAAbb99  --", "a\n\n\nb", "ab  cd",
        "😀😀😀x😀", "  lead", "trail  ", "\t\t", "a" * 5000,
        "интервал    пробел", "\ud800\ud800x\udfff", None,
    ]
    s = pd.Series(vals, dtype=object)
    pat = re.compile(r"(.)\1+", re.DOTALL)
    expected = s.fillna("").str.replace(pat, r"\1", regex=True)
    expected = expected.mask(expected == "", "_")
    assert collapse_runs_series(s.fillna("")).equals(expected)


def test_minhash_fast_equals_naive():
    import numpy as np

    from bytefreq_spark.dedup import _hash_params, _minhash_batch

    a, b = _hash_params(64, 42)
    extra = pd.Series(
        ["", None, "ab", "abcd", "abcde", "abcdef", "aaaaaaaaaa",
         "😀😁😂🤣😃😄", "é" * 4, "é" * 5, "\x00" * 6, " ", "xyz" * 300,
         "\ud800", "ab\udfffcd\ud800ef"],
        dtype=object,
    )
    s = pd.concat([_series(), extra], ignore_index=True)
    fast = _minhash_batch(s, a, b, 5)
    naive = _minhash_batch_naive(s, a, b, 5)
    assert len(fast) == len(naive) == len(s)
    for f, nv in zip(fast, naive):
        assert np.array_equal(f, nv)
    # shingle widths other than the default exercise the short-row gather
    for sh in (2, 3, 8):
        for f, nv in zip(_minhash_batch(s, a, b, sh),
                         _minhash_batch_naive(s, a, b, sh)):
            assert np.array_equal(f, nv)


def test_lone_surrogates_get_a_value_everywhere():
    """A lone surrogate is a legal Python ``str`` (it reaches the kernels
    from driver-side frames); every kernel and the reference pipeline must
    return a value for every row instead of raising UnicodeEncodeError."""
    import numpy as np

    from bytefreq_spark.masks import lu_mask_key_series
    from bytefreq_spark.perplexity import perplexity
    from bytefreq_spark.quality import (
        LU_KEY_LEN, LU_KEY_SRC_CHARS, text_features,
    )
    from bytefreq_spark.reference import run_reference
    from bytefreq_spark.scrub import scrub_series_sparse

    rows = ["\ud800", "ok \udfff text", None, "", "plain prose here",
            "\ud83d\ude00 split pair", "x\ud800"]
    s = pd.Series(rows, dtype=object)
    n = len(rows)
    feats = text_features(s)
    assert len(feats) == n and feats["lu_key"].notna().all()
    assert detect_language(s).notna().all() and len(detect_language(s)) == n
    ppl = perplexity(s)
    assert len(ppl) == n and np.isfinite(ppl.to_numpy()).all()
    key = lu_mask_key_series(s, LU_KEY_SRC_CHARS, LU_KEY_LEN)
    assert len(key) == n and key.notna().all()
    assert len(scrub_series_sparse(s)) == n
    tr = pd.DataFrame({
        "conv_id": ["c"] * n, "turn_idx": range(n), "role": ["user"] * n,
        "text": rows, "tool": [None] * n,
        "ts": pd.Timestamp("2024-01-01"),
    })
    out = run_reference(tr)
    assert len(out) == n
    assert out["keep"].notna().all() and out["lang"].notna().all()
    assert (out["keep"] | out["drop_reason"].notna()).all()


def test_minhash_empty_batch():
    from bytefreq_spark.dedup import _hash_params, _minhash_batch

    a, b = _hash_params(8, 1)
    assert _minhash_batch(pd.Series([], dtype=object), a, b, 5) == []


def test_gen_golden_hashes():
    """r8 optimized the generator's hot path (the per-turn kind draw now
    precomputes the cdf RandomState.choice rebuilt per call, and sentence
    words gather through an object array) — the corpora must stay
    BIT-IDENTICAL, because the bench's timed queries consume them and a
    drifted corpus would silently change the workload.  These hashes were
    pinned from the pre-optimization generator."""
    import hashlib

    from bytefreq_spark.synth import MULTILANG_KINDS

    def h(pdf):
        pdf = pdf.copy()
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[ns]")
        return hashlib.sha256(pdf.to_csv(index=False).encode()).hexdigest()

    assert h(gen_transcripts_pandas(300)) == (
        "29f53645044831a4995a75c48ee5be3efc63080cd2bc84067dd537c6f533f21a")
    assert h(gen_transcripts_pandas(50, skew_every=50, skew_len=500)) == (
        "c72be9b007684ffc12a4b08dab50dffccda5b7eb8bee20579fc3c740c9a5eec8")
    assert h(gen_transcripts_pandas(20, skew_every=0, doc_words=(17, 85))) == (
        "88fb518d71dc6b676fcf0c3986e14ee6ecb9f544216e511b9c26e2cacf5141d8")
    assert h(gen_transcripts_pandas(200, kinds=MULTILANG_KINDS)) == (
        "ddb68c002767d72d4be94efd159b231dce204e939aa0d68727f164f45b1a9b4f")
