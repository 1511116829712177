"""One SQL statement per search, resolved on the driver.

The compiler lowers a search to one ``spark.sql`` statement over temp
views that each catalog handle registers once (``FullTextIndex.view``),
and a catalog handle expands fuzzy and regex queries on the driver from
its held term dictionary (``query/expand.py``).  These tests pin:

- that the driver and the Spark expansion select the same terms, over a
  pattern and value corpus with non-BMP, combining-mark and
  line-terminator terms;
- that user values and field names reach the statement intact: each odd
  value finds exactly its own doc through term, phrase, fuzzy, regex and
  range bodies, on a field whose name holds a space and a backtick;
- that the session holds only the live handles' views across a flush, a
  merge, a committed delete and ``delete_index``, and a search never
  reads a replaced commit;
- that a regex is validated in the dialect that runs it (Java).
"""

import json

import pytest

from toshi_spark.api import ToshiApi
from toshi_spark.index import catalog as catalog_mod
from toshi_spark.index.catalog import IndexCatalog
from toshi_spark.query.dsl import parse_search
from toshi_spark.query.expand import python_regex

RAW_SCHEMA = [
    {"name": "t", "type": "text",
     "options": {"indexing": {"record": "position", "tokenizer": "raw"},
                 "stored": True}},
    {"name": "n", "type": "u64",
     "options": {"indexed": True, "stored": True, "fast": True}},
]

# one raw term per doc, so the matched docs ARE the matched terms
TERMS = [
    "ab", "abc", "abd", "acb", "ba", "a", "b", "abcd", "xab",
    "ab\n", "ab\r\n", "ab\r", "ab\x85", "ab\u2028", "ab\u2029", "a\nb",
    "\n", "\r\n", "ab\n\n", "ab\r\r",
    "\U0001f600", "a\U0001f600", "\U0001f600b", "\U0001f600\U0001f601",
    "\u00e9", "e\u0301", "\u00e9b", "e\u0301e", "caf\u00e9", "cafe\u0301",
    "a.b", "a*b", "a b", "Ab", "AB", "\u65e5\u672c", "\u65e5\u672c\u8a9e",
    "w10", "w1", "w19", "abcdef",
]

REGEXES = [
    # whitelisted: expand on the driver
    "ab", "ab.", "a.", ".b", ".*", ".+", "a.*", "ab.?", "a[b-d]", "[^a]b",
    "(?:ab|ba)", "ab|a", "(a|x)(b|a)b?", "a{1,2}b?", "\U0001f600.",
    ".\U0001f600", "e.", "e\u0301.", "\u00e9.*", "caf.*", "a\\.b",
    "a\\*b", "a b", "[\u65e5\u672c]+\u8a9e?", "w1[0-9]", "w1[0-9]?",
    "[\n\r]", ".\n", "ab\\r?",
    # outside the whitelist: Spark on both sides
    "\\w+", "\\p{L}+", "(?i)ab", "a.*?", "ab$", "\\Qa.b\\E", "[a&&[b]]",
]

FUZZY = [(v, d, tr) for v in ("ab", "a", "\u00e9", "e\u0301", "\U0001f600",
                              "ab\n", "caf", "w1", "ba")
         for d in (0, 1, 2) for tr in (False, True)]
# values a few adjacent swaps from a term that plain Levenshtein puts
# beyond the distance: "abcd" is 2 swaps (3 plain edits) from "badc",
# "abcdef" 3 swaps (4 plain edits) from "badcfe"
SWAPS = [("badc", 2, "abcd"), ("badcfe", 3, "abcdef")]
FUZZY += [(v, d, tr) for v, d, _t in SWAPS for tr in (False, True)]


def _bodies(field: str, n: str, v: str, i: int) -> list[dict]:
    """Term, phrase, fuzzy, regex and range bodies that must each find
    exactly doc ``i``, which holds [v, "tail"] in ``field``."""
    escaped = "".join("\\" + c if c.isascii() and not c.isalnum()
                      and c not in " \n" else c for c in v)
    return [
        {"query": {"term": {field: v}}},
        {"query": {"phrase": {field: {"terms": [v, "tail"],
                                      "offsets": [0, 2]}}}},
        {"query": {"fuzzy": {field: {"value": v, "distance": 1}}}},
        {"query": {"regex": {field: escaped}}},
        {"query": {"range": {n: {"gte": i, "lte": i}}}},
    ]


def _terms_found(api, body) -> set[str]:
    st, resp = api.handle("POST", "/rx", {**body, "limit": 100})
    assert st == 200, (body, resp)
    return {d["doc"]["t"] for d in resp["docs"]}


@pytest.fixture(scope="module")
def raw_base(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("rawterms"))
    api = ToshiApi(IndexCatalog(spark, path))
    assert api.handle("PUT", "/rx/_create", RAW_SCHEMA)[0] == 201
    body = "".join(json.dumps({"t": t, "n": i}) + "\n"
                   for i, t in enumerate(TERMS))
    assert api.handle("POST", "/rx/_bulk", body)[0] == 201
    assert api.handle("GET", "/rx/_flush")[0] == 200
    return path


def _sweep(spark, path) -> tuple[list, set]:
    cat = IndexCatalog(spark, path)
    api = ToshiApi(cat)
    found, sources = [], set()
    for p in REGEXES:
        found.append(_terms_found(api, {"query": {"regex": {"t": p}}}))
        sources.add((p, cat.open("rx").gates["expansion_source"]))
    for v, d, tr in FUZZY:
        found.append(_terms_found(api, {"query": {"fuzzy": {"t": {
            "value": v, "distance": d, "transposition": tr}}}}))
        sources.add((v, cat.open("rx").gates["expansion_source"]))
    return found, sources


def test_driver_and_spark_expansions_select_the_same_terms(
        spark, raw_base, monkeypatch):
    driver, sources = _sweep(spark, raw_base)
    for p in REGEXES:
        want = "driver" if python_regex(p) is not None else "spark"
        assert (p, want) in sources, p
    assert sum(python_regex(p) is None for p in REGEXES) == 8
    # the line-terminator rule of Java's $ is exercised: "ab." holds
    # "ab\n" only through the terminator, not through the dot
    assert "ab\n" in driver[REGEXES.index("ab")]
    assert "ab\r\n" in driver[REGEXES.index("ab")]
    assert "ab\n\n" not in driver[REGEXES.index("ab.")]
    assert all(len(f) > 0 for f in driver[:20])
    for v, d, t in SWAPS:
        i = len(REGEXES) + FUZZY.index((v, d, True))
        assert t in driver[i] and t not in driver[i - 1], (v, d)

    monkeypatch.setattr(catalog_mod, "TERM_DICT_MAX_ROWS", 1)
    pushed, sources2 = _sweep(spark, raw_base)
    assert {s for _p, s in sources2} == {"spark"}
    for i, (a, b) in enumerate(zip(driver, pushed)):
        q = REGEXES[i] if i < len(REGEXES) else FUZZY[i - len(REGEXES)]
        assert a == b, (q, a ^ b)


ODD_VALUES = ["'", "\\", "`", ":a0", "?", "{x}", "--", "/*", "\n",
              "\U0001f600"]
ODD_FIELD, ODD_NUM = "my `field", "n `x"


@pytest.mark.parametrize("term_dict_rows", [200_000, 1])
def test_odd_values_and_field_names_find_their_doc(
        spark, tmp_path, monkeypatch, term_dict_rows):
    """Each value sits in one doc as ``[value + i, "tail"]``; values
    are at least two edits apart, so fuzzy~1 finds one doc too.  With a
    one-row dictionary bound the term dfs and expansions run in Spark."""
    monkeypatch.setattr(catalog_mod, "TERM_DICT_MAX_ROWS", term_dict_rows)
    schema = [
        {"name": ODD_FIELD, "type": "text",
         "options": {"indexing": {"record": "position",
                                  "tokenizer": "raw"}, "stored": True}},
        {"name": ODD_NUM, "type": "u64",
         "options": {"indexed": True, "stored": True, "fast": True}},
    ]
    cat = IndexCatalog(spark, str(tmp_path))
    api = ToshiApi(cat)
    assert api.handle("PUT", "/odd/_create", schema)[0] == 201
    values = [f"{v}{i}" for i, v in enumerate(ODD_VALUES)]
    body = "".join(json.dumps({ODD_FIELD: [v, "tail"], ODD_NUM: i}) + "\n"
                   for i, v in enumerate(values))
    assert api.handle("POST", "/odd/_bulk", body)[0] == 201
    assert api.handle("GET", "/odd/_flush")[0] == 200
    for i, v in enumerate(values):
        for b in _bodies(ODD_FIELD, ODD_NUM, v, i):
            st, resp = api.handle("POST", "/odd", b)
            assert st == 200, (b, resp)
            assert [d["doc"][ODD_NUM] for d in resp["docs"]] == [i], b
    want = "driver" if term_dict_rows > 1 else "collect"
    assert cat.open("odd").gates["term_dict"] == want


def test_session_lists_only_live_handle_views(spark, tmp_path):
    """Every handle this test opens stays referenced, so their temp
    view names (keyed by object id) stay distinct; of those names the
    session lists exactly the current handle's."""
    cat = IndexCatalog(spark, str(tmp_path))
    api = ToshiApi(cat, merge_policy={"kind": "log", "min_merge_size": 2})
    assert api.handle("PUT", "/lv/_create", [RAW_SCHEMA[0]])[0] == 201
    handles = []

    def listed() -> set[str]:
        prefixes = tuple(f"toshi_ix{id(h):x}_" for h in handles)
        return {t.name for t in spark.catalog.listTables()
                if t.isTemporary and t.name.startswith(prefixes)}

    def commit(docs):
        body = "".join(json.dumps({"t": t}) + "\n" for t in docs)
        assert api.handle("POST", "/lv/_bulk", body)[0] == 201
        assert api.handle("GET", "/lv/_flush")[0] == 200

    def search(t):
        st, resp = api.handle("POST", "/lv", {"query": {"term": {"t": t}},
                                              "facets": {"t": ["/"]}})
        assert st == 200, resp
        ix = cat.open("lv")
        if ix not in handles:
            handles.append(ix)
        # the faceted search's scratch view is gone once it returns
        assert listed() == set(ix.view_names())
        return [d["doc"]["t"] for d in resp["docs"]]

    commit(["one", "two"])
    assert search("one") == ["one"] and search("three") == []
    ix1 = cat.open("lv")
    assert ix1.view_names()
    commit(["three"])  # second segment: the log policy merges both
    assert len(api.handle("GET", "/lv/_summary")[1]
               ["summaries"]["segments"]) == 1
    assert search("three") == ["three"]
    assert cat.open("lv") is not ix1 and ix1.view_names() == []
    ix2 = cat.open("lv")
    st, resp = api.handle("DELETE", "/lv", {"terms": {"t": "two"},
                                            "options": {"commit": True}})
    assert st == 200 and resp["docs_affected"] == 1
    assert search("two") == [] and search("one") == ["one"]
    assert cat.open("lv") is not ix2 and ix2.view_names() == []
    assert len(handles) == 3
    cat.delete_index("lv")
    assert listed() == set()


@pytest.mark.parametrize("pattern,status", [
    ("(?P<n>alpha)", 400),   # Python accepts it, Java does not
    ("a{,3}lpha", 400),      # same
    ("\\p{L}+", 200),        # Java accepts it, Python does not
    ("(unclosed", 400),
])
def test_regex_validated_in_the_dialect_that_runs_it(spark, raw_base,
                                                     pattern, status):
    api = ToshiApi(IndexCatalog(spark, raw_base))
    st, resp = api.handle("POST", "/rx", {"query": {"regex": {"t": pattern}}})
    assert st == status, resp
