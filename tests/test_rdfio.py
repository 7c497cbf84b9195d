"""Ingestion/serialization round trips (FIXTURES.md §8): parse → serialize
→ parse equals the original quad set, in each format the reference parses."""

import io
import re

import pytest

import kolibrie_spark.rdfio as R
from kolibrie_spark.rdfio.parsers import (
    _PREFIX_RE,
    RdfParseError,
    parse_nquads,
    parse_ntriples,
    parse_rdfxml,
    parse_turtle,
)
from kolibrie_spark.rdfio.serializers import (
    serialize_nquads,
    serialize_ntriples,
    serialize_rdfxml,
    serialize_turtle,
)


def _turtle_statement_chunks(text: str, per_chunk: int, window_bytes: int = 0):
    """The kept chunker, :func:`R._turtle_stream_chunks`, over a whole
    text with its directive lines dropped first (as the slow oracle
    drops them), decoded back to str."""
    body = R._TTL_DIRECTIVE_LINE_RE.sub("", text).encode("utf-8")
    return [
        c.decode("utf-8")
        for c in R._turtle_stream_chunks(io.BytesIO(body), per_chunk, window_bytes)
    ]


def _turtle_statement_chunks_slow(text: str, per_chunk: int):
    """Reference oracle for the Turtle chunker: the original
    per-character scan, with @prefix and comment lines dropped first."""
    body = "\n".join(
        line
        for line in text.splitlines()
        if not (_PREFIX_RE.match(line.strip()) or line.strip().startswith("#"))
    )
    chunks: list[str] = []
    start = 0
    n_stmts = 0
    i, n = 0, len(body)
    while i < n:
        c = body[i]
        if c == "<":  # IRI: skip to closing '>'
            j = body.find(">", i + 1)
            i = n if j < 0 else j + 1
            continue
        if c in ('"', "'"):
            if body[i : i + 3] in ('"""', "'''"):  # long string
                # escape-aware first-triple closer (ADVICE r10): a
                # backslash consumes two chars, mirroring the statement
                # regexes' long branches
                j = i + 3
                while j < n:
                    if body[j] == "\\":
                        j += 2
                    elif body[j] == c and body[j : j + 3] == c * 3:
                        break
                    else:
                        j += 1
                i = n if j >= n else j + 3
            else:
                j = i + 1
                while j < n and body[j] != c:
                    j += 2 if body[j] == "\\" else 1
                i = j + 1
            continue
        if c == "#":  # comment to end of line
            j = body.find("\n", i)
            i = n if j < 0 else j + 1
            continue
        if c == "." and (i + 1 >= n or body[i + 1].isspace()):
            n_stmts += 1
            if n_stmts >= per_chunk:
                chunks.append(body[start : i + 1])
                start = i + 1
                n_stmts = 0
        i += 1
    if body[start:].strip():
        chunks.append(body[start:])
    return chunks


def _ttl_whole_chunks(raw: bytes, per: int) -> list[bytes]:
    """Whole-buffer oracle for the windowed scan: repeated matches of
    1..per fallback-bearing statements over the complete bytes, with an
    unterminated tail as a last chunk."""
    pat = re.compile(f"(?:{R._TTL_STMT}){{1,{per}}}+".encode("ascii"))
    out, pos, n = [], 0, len(raw)
    while pos < n:
        m = pat.match(raw, pos)
        if m is None:
            break
        out.append(raw[pos : m.end()])
        pos = m.end()
    if raw[pos:].strip():
        out.append(raw[pos:])
    return out


def _rdfxml_whole_chunks(raw: bytes, per: int):
    """Whole-document oracle for the windowed RDF/XML scan: one token
    pass over the complete bytes finds every top-level element span; the
    rows group ``per`` spans under the root tag, or are the single
    ``(0, None, raw)`` row for an unsplittable document."""
    depth = 0
    root_open = None
    spans = []
    el_start = -1
    for m in R._XML_TOKEN_RE_B.finditer(raw):
        tok = m.group(0)
        if tok.startswith((b"<!--", b"<![", b"<?", b"<!")):
            continue
        if tok.startswith(b"</"):
            depth -= 1
            if depth == 1 and el_start >= 0:
                spans.append((el_start, m.end()))
                el_start = -1
            elif depth == 0:
                break
            continue
        selfclose = tok.endswith(b"/>")
        if depth == 0:
            if selfclose:  # <rdf:RDF/> — empty document
                return [(0, None, raw)]
            root_open = tok
            depth = 1
            continue
        if depth == 1:
            if selfclose:
                spans.append((m.start(), m.end()))
            else:
                el_start = m.start()
                depth = 2
        elif not selfclose:
            depth += 1
    if root_open is None or len(spans) <= per:
        return [(0, None, raw)]
    root = root_open.decode("utf-8", "replace")
    return [
        (k, root, raw[spans[i][0] : spans[i : i + per][-1][1]])
        for k, i in enumerate(range(0, len(spans), per))
    ]


NT = """
<http://ex/alice> <http://ex/name> "Alice" .
<http://ex/alice> <http://ex/age> "25"^^<http://www.w3.org/2001/XMLSchema#int> .
<http://ex/alice> <http://ex/motto> "caf\\u00e9 \\"quoted\\""@fr .
<http://ex/alice> a <http://ex/Person> .
_:b1 <http://ex/knows> <http://ex/alice> .
<< <http://ex/alice> <http://ex/age> "25" >> <http://ex/certainty> "0.9" .
"""


def test_parse_ntriples_term_cleaning():
    triples, quoted = parse_ntriples(NT)
    d = {(p): (s, o) for (s, p, o) in triples}
    assert d["http://ex/name"] == ("http://ex/alice", "Alice")
    # datatype stripped, lang kept as value@lang, escapes decoded
    assert d["http://ex/age"][1] == "25"
    assert d["http://ex/motto"][1] == 'café "quoted"@fr'
    assert d["http://www.w3.org/1999/02/22-rdf-syntax-ns#type"][1] == "http://ex/Person"
    assert d["http://ex/knows"][0] == "_:b1"
    # quoted triple interned with stable id
    assert len(quoted) == 1
    qid = quoted[0][0]
    assert d["http://ex/certainty"][0] == qid and qid.startswith("qt:")


def test_ntriples_roundtrip():
    triples, quoted = parse_ntriples(NT)
    text = serialize_ntriples(triples, quoted)
    again, quoted2 = parse_ntriples(text)
    assert sorted(again) == sorted(triples)
    assert sorted(quoted2) == sorted(quoted)


def test_nquads_roundtrip():
    nq = """
<http://ex/a> <http://ex/p> "1" .
<http://ex/a> <http://ex/p> "2" <http://ex/g1> .
<http://ex/b> <http://ex/q> <http://ex/c> <http://ex/g2> .
"""
    quads, quoted = parse_nquads(nq)
    assert quads[0][3] is None and quads[1][3] == "http://ex/g1"
    text = serialize_nquads(quads, quoted)
    again, _ = parse_nquads(text)
    assert sorted(again) == sorted(quads)


TTL = """
@prefix ex: <http://ex/> .
PREFIX foaf: <http://xmlns.com/foaf/0.1/>
ex:alice foaf:name "Alice" ;
    ex:age "25" , "26" ;
    ex:city ex:ghent .
ex:bob ex:age "30" {| ex:certainty "0.8" |} .
<< ex:alice ex:age "25" >> ex:source ex:census .
"""


def test_parse_turtle_continuations_and_annotations():
    triples, quoted, prefixes = parse_turtle(TTL)
    assert prefixes["ex"] == "http://ex/"
    got = set(triples)
    assert ("http://ex/alice", "http://xmlns.com/foaf/0.1/name", "Alice") in got
    assert ("http://ex/alice", "http://ex/age", "25") in got
    assert ("http://ex/alice", "http://ex/age", "26") in got
    assert ("http://ex/alice", "http://ex/city", "http://ex/ghent") in got
    # annotation syntax: << bob age 30 >> certainty 0.8
    ann = [t for t in triples if t[1] == "http://ex/certainty"]
    assert len(ann) == 1 and ann[0][0].startswith("qt:") and ann[0][2] == "0.8"
    # explicit quoted-triple statement
    src = [t for t in triples if t[1] == "http://ex/source"]
    assert src[0][0].startswith("qt:")
    assert len(quoted) == 2


def test_turtle_roundtrip():
    triples, quoted, _ = parse_turtle(TTL)
    text = serialize_turtle(triples, quoted)
    again, quoted2, _ = parse_turtle(text)
    assert sorted(again) == sorted(triples)


def test_rdfxml_parse_and_roundtrip():
    xml = """<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://ex/">
  <rdf:Description rdf:about="http://ex/alice">
    <ex:name>Alice</ex:name>
    <ex:city rdf:resource="http://ex/ghent"/>
  </rdf:Description>
</rdf:RDF>"""
    triples = parse_rdfxml(xml)
    assert ("http://ex/alice", "http://ex/name", "Alice") in triples
    assert ("http://ex/alice", "http://ex/city", "http://ex/ghent") in triples
    text = serialize_rdfxml(triples)
    again = parse_rdfxml(text)
    assert sorted(again) == sorted(triples)


def test_parse_errors():
    with pytest.raises(RdfParseError):
        parse_ntriples("<http://ex/a> <http://ex/p> ")
    with pytest.raises(RdfParseError):
        parse_ntriples('<a> <b> "unclosed >>')


def test_engine_integration(engine):
    engine.parse_data(NT, fmt="ntriples")
    got = engine.execute(
        "SELECT ?n WHERE { ?s <http://ex/name> ?n }"
    )
    assert got == [["Alice"]]
    # quoted triple queryable through the SPARQL surface
    got = engine.execute(
        'SELECT ?c WHERE { << <http://ex/alice> <http://ex/age> "25" >> '
        "<http://ex/certainty> ?c }"
    )
    assert got == [["0.9"]]


def test_distributed_ntriples_read(spark, tmp_path):
    from kolibrie_spark.rdfio import read_ntriples_df

    path = tmp_path / "data.nt"
    path.write_text(
        "\n".join(f'<http://ex/s{i}> <http://ex/p> "{i}" .' for i in range(100))
    )
    df = read_ntriples_df(spark, str(path))
    assert df.count() == 100
    assert df.filter("o = '42'").count() == 1


def test_distributed_turtle_read_matches_driver_parse(spark, tmp_path):
    """read_turtle_df (chunk-parallel, VERDICT r4 item #7) must produce the
    same quads the driver-side parse_turtle produces — across multiple
    files, multi-statement lines, `;`/`,` continuations, decimals (whose
    '.' must not split statements), comments, and string literals
    containing dots."""
    from kolibrie_spark.rdfio import parse_turtle, read_turtle_df

    header = "@prefix ex: <http://ex/> .\n@prefix foaf: <http://xmlns.com/foaf/0.1/> .\n"
    bodies = []
    for f in range(3):
        lines = [header, f"# file {f} comment . with a dot\n"]
        for i in range(40):
            k = f * 100 + i
            lines.append(
                f'ex:s{k} foaf:name "N. {k}. dotted" ;\n'
                f"    ex:score 3.5 ,\n"
                f"        4.25 ;\n"
                f"    ex:knows ex:s{k + 1} .\n"
            )
        bodies.append("".join(lines))
    d = tmp_path / "ttl"
    d.mkdir()
    expected = []
    for f, body in enumerate(bodies):
        (d / f"part{f}.ttl").write_text(body)
        triples, _, _ = parse_turtle(body)
        expected.extend((s, p, o, None) for (s, p, o) in triples)
    df = read_turtle_df(spark, str(d), statements_per_chunk=7)
    got = sorted(tuple(r) for r in df.collect())
    assert got == sorted(expected)
    assert df.rdd.getNumPartitions() > 1  # actually distributed


def test_rdfxml_id_nodeid_nested_and_base():
    """VERDICT r4 #9: rdf:ID resolves against xml:base with '#',
    rdf:about/rdf:resource resolve relative references, rdf:nodeID makes
    blank nodes on both ends, nested node elements recurse (anonymous
    ones get deterministic _:genid labels)."""
    xml = """<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:ex="http://ex/ns#"
         xml:base="http://ex/doc">
  <rdf:Description rdf:ID="alice">
    <ex:name>Alice</ex:name>
    <ex:home rdf:resource="town"/>
    <ex:knows rdf:nodeID="b1"/>
    <ex:pet>
      <ex:Cat>
        <ex:name>Mia</ex:name>
      </ex:Cat>
    </ex:pet>
  </rdf:Description>
  <rdf:Description rdf:nodeID="b1">
    <ex:name>Bob</ex:name>
  </rdf:Description>
</rdf:RDF>"""
    triples = parse_rdfxml(xml)
    got = set(triples)
    assert ("http://ex/doc#alice", "http://ex/ns#name", "Alice") in got
    assert ("http://ex/doc#alice", "http://ex/ns#home", "http://ex/town") in got
    assert ("http://ex/doc#alice", "http://ex/ns#knows", "_:b1") in got
    assert ("_:b1", "http://ex/ns#name", "Bob") in got
    # nested typed node: rdf:type + its own property, linked from alice
    pets = [o for (s, p, o) in got if p == "http://ex/ns#pet"]
    assert pets and pets[0].startswith("_:genid")
    assert (pets[0], "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
            "http://ex/ns#Cat") in got
    assert (pets[0], "http://ex/ns#name", "Mia") in got


def test_distributed_rdfxml_and_n3_read(spark, tmp_path):
    """File-parallel RDF/XML + chunk-parallel N3 distributed readers
    match their driver-side parsers across multiple files."""
    from kolibrie_spark.rdfio import parse_n3, parse_rdfxml, read_n3_df, read_rdfxml_df

    xdir = tmp_path / "xml"
    xdir.mkdir()
    expected_x = []
    for f in range(3):
        xml = f"""<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://ex/">
  <rdf:Description rdf:about="http://ex/s{f}">
    <ex:name>Doc {f}</ex:name>
    <ex:link rdf:resource="http://ex/t{f}"/>
  </rdf:Description>
</rdf:RDF>"""
        (xdir / f"f{f}.rdf").write_text(xml)
        expected_x.extend((s, p, o, None) for (s, p, o) in parse_rdfxml(xml))
    got_x = sorted(tuple(r) for r in read_rdfxml_df(spark, str(xdir)).collect())
    assert got_x == sorted(expected_x)

    ndir = tmp_path / "n3"
    ndir.mkdir()
    expected_n = []
    for f in range(2):
        n3 = "@prefix ex: <http://ex/> .\n" + "".join(
            f"ex:a{f * 50 + i} ex:p ex:b{i} .\n" for i in range(50)
        )
        (ndir / f"f{f}.n3").write_text(n3)
        triples, _, _ = parse_n3(n3)
        expected_n.extend((s, p, o, None) for (s, p, o) in triples)
    got_n = sorted(tuple(r) for r in read_n3_df(spark, str(ndir), statements_per_chunk=13).collect())
    assert got_n == sorted(expected_n)


def test_turtle_chunker_edges():
    """_turtle_statement_chunks must not split inside long strings,
    IRIs, or comments, and must handle trailing statements without a
    final newline."""
    text = (
        '@prefix ex: <http://ex/> .\n'
        'ex:a ex:doc """multi. line. literal.\nwith \'quotes\' and . dots""" .\n'
        "# comment with a dot . and \"quotes\"\n"
        "ex:b ex:iri <http://ex/path.with.dots> .\n"
        "ex:c ex:num 3.25 .\n"
        "ex:d ex:esc \"short \\\" escaped. quote\" ."  # no trailing newline
    )
    chunks = _turtle_statement_chunks(text, per_chunk=1)
    assert len(chunks) == 4
    assert 'multi. line. literal.' in chunks[0]
    assert "path.with.dots" in chunks[1]
    assert "3.25" in chunks[2]
    assert "escaped. quote" in chunks[3]
    # prefix lines are stripped (caller broadcasts the map)
    assert all("@prefix" not in c for c in chunks)
    # one big chunk keeps everything
    assert len(_turtle_statement_chunks(text, per_chunk=100)) == 1


def test_multifile_rdfxml_blank_nodes_stay_distinct(spark, tmp_path):
    """VERDICT r6 item #4: two files each containing anonymous nested
    nodes AND the same rdf:nodeID label must yield DISTINCT blank nodes —
    labels are document-scoped in RDF."""
    from kolibrie_spark.rdfio import read_rdfxml_df

    xdir = tmp_path / "xml"
    xdir.mkdir()
    for f in range(2):
        xml = f"""<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://ex/">
  <rdf:Description rdf:about="http://ex/s{f}">
    <ex:pet><ex:Cat><ex:name>Cat{f}</ex:name></ex:Cat></ex:pet>
    <ex:knows rdf:nodeID="b1"/>
  </rdf:Description>
  <rdf:Description rdf:nodeID="b1"><ex:name>Friend{f}</ex:name></rdf:Description>
</rdf:RDF>"""
        (xdir / f"f{f}.rdf").write_text(xml)

    rows = [tuple(r) for r in read_rdfxml_df(spark, str(xdir)).collect()]
    # two files x one anonymous cat each -> 2 distinct genid subjects
    cat_nodes = {s for s, p, o, _ in rows if p == "http://ex/name" and o.startswith("Cat")}
    assert len(cat_nodes) == 2 and all(n.startswith("_:") for n in cat_nodes)
    # the rdf:nodeID="b1" labels must NOT conflate across files: each
    # file's ex:knows object is that file's own Friend node
    friend_of = {}
    name_of = {s: o for s, p, o, _ in rows if p == "http://ex/name"}
    for s, p, o, _ in rows:
        if p == "http://ex/knows":
            friend_of[s] = o
    assert len(set(friend_of.values())) == 2
    assert {name_of[b] for b in friend_of.values()} == {"Friend0", "Friend1"}
    # within one file, the nodeID reference and its definition DO unify
    assert all(b in name_of for b in friend_of.values())


def test_single_file_rdfxml_chunk_parallel_roundtrip(spark, tmp_path):
    """VERDICT r6 item #8: ONE RDF/XML file must split into >1 parse
    chunks and still produce the whole-document triple set (modulo
    blank-node relabeling), with rdf:ID/xml:base resolution and
    rdf:nodeID unification working across chunk boundaries."""
    from kolibrie_spark.rdfio import read_rdfxml_df
    from kolibrie_spark.rdfio.parsers import parse_rdfxml

    n = 40
    body = "".join(
        f'<rdf:Description rdf:ID="r{i}"><ex:idx>{i}</ex:idx>'
        f'<ex:next rdf:resource="#r{(i + 1) % n}"/>'
        f"<ex:tag><ex:Tag><ex:val>t{i}</ex:val></ex:Tag></ex:tag>"
        f'<ex:hub rdf:nodeID="hub"/></rdf:Description>'
        for i in range(n)
    )
    xml = (
        '<?xml version="1.0"?>\n'
        '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
        'xmlns:ex="http://ex/" xml:base="http://base/doc">'
        f'{body}<rdf:Description rdf:nodeID="hub"><ex:name>HUB</ex:name>'
        "</rdf:Description></rdf:RDF>"
    )
    f = tmp_path / "one.rdf"
    f.write_text(xml)

    # >1 parse tasks from ONE file
    assert len(list(R._rdfxml_stream_chunks(io.BytesIO(xml.encode()), 7))) > 1

    got = [tuple(r) for r in read_rdfxml_df(spark, str(f), elements_per_chunk=7).collect()]
    want = [(s, p, o, None) for s, p, o in parse_rdfxml(xml)]
    assert len(got) == len(want)

    def skeleton(rows):
        # blank labels are arbitrary: canonicalize each bnode by its
        # 1-hop signature (sorted incident predicate/ground-term edges) —
        # unique in this fixture (distinct ex:val per genid node, one hub)
        sig = {}
        for s, p, o, _ in rows:
            if s.startswith("_:") and not o.startswith("_:"):
                sig.setdefault(s, []).append(("out", p, o))
            if o.startswith("_:") and not s.startswith("_:"):
                sig.setdefault(o, []).append(("in", p, s))

        def wipe(t):
            return f"_:{sorted(sig[t])!r}" if t.startswith("_:") else t

        assert len({wipe(b) for b in sig}) == len(sig)  # signatures unique
        return sorted((wipe(s), p, wipe(o), g) for s, p, o, g in rows)

    assert skeleton(got) == skeleton(want)
    # xml:base'd rdf:ID resolution survives chunking
    assert ("http://base/doc#r0", "http://ex/idx", "0", None) in got
    assert ("http://base/doc#r3", "http://ex/next", "http://base/doc#r4", None) in got
    # rdf:nodeID="hub" unifies ACROSS chunks: every element's ex:hub
    # object is the single node that carries ex:name HUB
    hub_objs = {o for s, p, o, _ in got if p == "http://ex/hub"}
    hub_defs = {s for s, p, o, _ in got if o == "HUB"}
    assert len(hub_objs) == 1 and hub_objs == hub_defs


def test_multifile_turtle_prefixes_stay_per_file(spark, tmp_path):
    """VERDICT r6 item #5: two files binding the same @prefix label to
    DIFFERENT IRIs must each expand their own terms in their own
    namespace (no last-file-wins clobbering)."""
    from kolibrie_spark.rdfio import read_n3_df, read_turtle_df

    for reader, ext in [(read_turtle_df, "ttl"), (read_n3_df, "n3")]:
        d = tmp_path / f"corpus_{ext}"
        d.mkdir()
        for f in range(2):
            (d / f"f{f}.{ext}").write_text(
                f"@prefix ex: <http://domain{f}/> .\n"
                f"ex:subj ex:pred ex:obj{f} .\n"
            )
        rows = sorted(tuple(r) for r in reader(spark, str(d)).collect())
        assert rows == [
            ("http://domain0/subj", "http://domain0/pred", "http://domain0/obj0", None),
            ("http://domain1/subj", "http://domain1/pred", "http://domain1/obj1", None),
        ], rows


def test_regex_chunker_matches_percharacter_scan():
    """VERDICT r8 task #2: the compiled-regex statement scan must place
    exactly the same chunk boundaries as the per-character Python loop it
    replaced (kept as _turtle_statement_chunks_slow) — across dots in
    IRIs/literals/comments, decimals, long strings of both quote styles,
    escaped quotes, multi-statement lines, directives, and malformed
    tails."""
    cases = [
        'ex:a ex:b "dot . inside" .\nex:c ex:d "x" .',
        'ex:a ex:b """long\nstring . with dots.\n""" .\nex:c ex:d ex:e .',
        "ex:a ex:b 'single . quo\\'te' .",
        "ex:a ex:b '''long single ' quote ''' .",
        "ex:a ex:b 1.5 .\nex:c ex:d 2. .",
        '<http://x.org/a.b#c> <http://y.org/p.q> "v" .',
        'ex:a ex:b "v" . # trailing comment with . dots\nex:c ex:d "w" .',
        "@prefix ex: <http://e.org/> .\nex:a ex:b ex:c .\n"
        "# full line comment .\nex:d ex:e ex:f .",
        'ex:a ex:b "multi\nline short string" .',
        'ex:a ex:b "esc \\" quote . here" .',
        "ex:a ex:b ex:c .",
        "ex:a ex:b ex:c . ex:d ex:e ex:f .",
        'ex:a ex:b "café . 日本語" .\nex:c ex:d ex:e .',
        'ex:a ex:b "unterminated',
        "",
        "   \n  ",
    ]
    norm = lambda cs: [" ".join(c.split()) for c in cs]  # noqa: E731
    for i, text in enumerate(cases):
        for per_chunk in (1, 2, 1000):
            slow = norm(_turtle_statement_chunks_slow(text, per_chunk))
            for win in (0, 5):
                fast = norm(_turtle_statement_chunks(text, per_chunk, win))
                assert fast == slow, (i, per_chunk, win, fast, slow)


def test_offset_reader_handles_multibyte_utf8(spark, tmp_path):
    """The chunk reader scans BYTES and cuts them at statement ends;
    multi-byte UTF-8 literals (and a directive line that must be
    dropped per chunk) must survive with exact values."""
    from kolibrie_spark.rdfio import parse_turtle, read_turtle_df

    body = "@prefix ex: <http://ex/> .\n" + "".join(
        f'ex:s{i} ex:name "café 日本語 {i} — üml" .\n'
        for i in range(50)
    )
    d = tmp_path / "utf8"
    d.mkdir()
    (d / "a.ttl").write_text(body, encoding="utf-8")
    expected = sorted(
        (s, p, o, None) for (s, p, o) in parse_turtle(body)[0]
    )
    got = sorted(
        tuple(r)
        for r in read_turtle_df(spark, str(d), statements_per_chunk=7).collect()
    )
    assert got == expected and len(got) == 50


def test_rdfxml_offset_reader_multibyte_split(spark, tmp_path):
    """The RDF/XML chunk reader slices raw bytes at top-level element
    boundaries; multi-byte UTF-8 literals inside a FORCED split
    (elements_per_chunk smaller than the element count) must survive
    with exact values, matching the driver-side parse."""
    from kolibrie_spark.rdfio import parse_rdfxml, read_rdfxml_df

    items = "".join(
        f'  <rdf:Description rdf:about="http://ex/s{i}">\n'
        f"    <ex:name>café {i} 日本語 — ünïcode</ex:name>\n"
        f'    <ex:link rdf:resource="http://ex/t{i}"/>\n'
        f"  </rdf:Description>\n"
        for i in range(30)
    )
    xml = (
        '<?xml version="1.0"?>\n'
        '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
        'xmlns:ex="http://ex/">\n' + items + "</rdf:RDF>"
    )
    f = tmp_path / "multibyte.rdf"
    f.write_text(xml, encoding="utf-8")
    expected = sorted(
        (s, p, o, None) for (s, p, o) in parse_rdfxml(xml)
    )
    got = sorted(
        tuple(r)
        for r in read_rdfxml_df(spark, str(f), elements_per_chunk=7).collect()
    )
    assert got == expected and len(got) == 60


def test_turtle_fast_path_matches_tokenizer_path(monkeypatch):
    """The simple-statement fast path (r9) must produce the same triple
    SET as the tokenizer+reader path on the same input — including
    escapes, lang tags, dropped datatypes, 'a', blank nodes, unknown and
    empty prefixes, numbers, declaration-order quirks, and mixed
    simple/complex statements."""
    import re as _re

    import kolibrie_spark.rdfio.parsers as P

    cases = [
        "@prefix ex: <http://e/> .\nex:a ex:b ex:c .",
        'ex:a ex:name "N. \\"q\\" \\u0041"@en .',
        'ex:a ex:n "typed"^^<http://www.w3.org/2001/XMLSchema#int> .',
        'ex:a ex:n "typed"^^xsd:int .',
        "_:b1 a ex:Thing .",
        "unknown:x unknown:y unknown:z .",
        "@prefix : <http://d/> .\n:a :b :c .",
        "ex:a ex:n 2.5 .\nex:b ex:n -3 .\nex:c ex:n +.5 .\nex:d ex:n 1e4 .",
        # mixed: fast lines interleaved with continuations and annotations
        "@prefix ex: <http://e/> .\n"
        "ex:s1 ex:p1 ex:o1 .\n"
        "ex:s2 ex:p2 ex:o2 ;\n    ex:p3 ex:o3 , ex:o4 .\n"
        'ex:s5 ex:p5 "v" {| ex:conf "0.9" |} .\n'
        "ex:s6 ex:p6 ex:o6 .",
        # prefix redeclared mid-file: BOTH paths apply the final map
        "@prefix ex: <http://one/> .\nex:a ex:b ex:c .\n"
        "@prefix ex: <http://two/> .\nex:d ex:e ex:f .",
        # quoted-triple subject (slow only) next to fast lines
        "<< ex:a ex:b ex:c >> ex:says ex:d .\nex:x ex:y ex:z .",
        # no-space-before-dot styles decline to the tokenizer
        "ex:a ex:b ex:c.\nex:d ex:e ex:f .",
    ]
    null_re = _re.compile(r"(?!x)x")  # never matches -> tokenizer path
    for text in cases:
        fast_t, fast_q, fast_px = P.parse_turtle(text)
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(P, "_SIMPLE_LINE_RE", null_re)
            slow_t, slow_q, slow_px = P.parse_turtle(text)
        assert sorted(fast_t) == sorted(slow_t), text
        assert sorted(fast_q) == sorted(slow_q), text
        assert fast_px == slow_px, text


def test_turtle_bare_leading_dot_number_raises_on_both_paths():
    """_TOK lexes '.5' as PUNCT '.' + NUM '5' (PUNCT precedes NUM), so a
    bare leading-dot number is a parse error — the fast path must decline
    rather than accept what the tokenizer rejects."""
    import re as _re

    import kolibrie_spark.rdfio.parsers as P

    text = "<http://e/c> <http://e/n> .5 ."
    with pytest.raises(P.RdfParseError):
        P.parse_turtle(text)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(P, "_SIMPLE_LINE_RE", _re.compile(r"(?!x)x"))
        with pytest.raises(P.RdfParseError):
            P.parse_turtle(text)


def test_ntriples_nquads_fast_path_matches_tokenizer_path():
    """Per-line fast path for the line-oriented formats must equal the
    tokenizer path — including quoted-triple lines, lang/datatype
    literals, blanks, and graph terms."""
    import re as _re

    import kolibrie_spark.rdfio.parsers as P

    nt = (
        '<http://e/a> <http://e/p> "v \\"q\\" \\u00e9"@en .\n'
        '<http://e/a> <http://e/n> "5"^^<http://www.w3.org/2001/XMLSchema#int> .\n'
        "_:b1 <http://e/p> _:b2 .\n"
        '<< <http://e/a> <http://e/p> "v" >> <http://e/c> "0.9" .\n'
        "<http://e/x> a <http://e/T> . # trailing comment\n"
    )
    nq = (
        '<http://e/a> <http://e/p> "1" .\n'
        '<http://e/a> <http://e/p> "2" <http://e/g1> .\n'
        "_:b <http://e/q> <http://e/c> <http://e/g2> . # c\n"
    )
    null_re = _re.compile(r"(?!x)x")
    fast_t = P.parse_ntriples(nt)
    fast_q = P.parse_nquads(nq)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(P, "_SIMPLE_LINE_RE", null_re)
        mp.setattr(P, "_SIMPLE_QUAD_RE", null_re)
        slow_t = P.parse_ntriples(nt)
        slow_q = P.parse_nquads(nq)
    assert fast_t == slow_t  # per-line paths preserve exact order
    assert fast_q == slow_q


def test_turtle_fast_path_raw_newline_short_string():
    """ADVICE r9 (medium): a short string containing RAW newlines must not
    be split by the fast path — the interior line must not be extracted
    as a phantom triple, and the literal must survive intact, exactly as
    the tokenizer-only path parses it."""
    import re as _re

    import kolibrie_spark.rdfio.parsers as P

    cases = [
        # the ADVICE example: interior line LOOKS like a simple statement
        'ex:a ex:b "line1\nex:a ex:b ex:c .\nline3" .',
        # close-and-reopen on the same line
        'ex:a ex:b "one\ntwo" , "three\nfour" .',
        # escaped quote keeps the string open across the newline
        'ex:a ex:b "esc \\" still open\nex:x ex:y ex:z .\nclose" .',
        # '#' inside the open string is content, not a comment
        'ex:a ex:b "has # hash\nex:h ex:i ex:j .\nend" .',
        # string closes, then a REAL simple statement follows
        'ex:a ex:b "open\nmid" .\nex:d ex:e ex:f .',
    ]
    null_re = _re.compile(r"(?!x)x")  # never matches -> tokenizer path
    for text in cases:
        fast_t, fast_q, fast_px = P.parse_turtle(text)
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(P, "_SIMPLE_LINE_RE", null_re)
            slow_t, slow_q, slow_px = P.parse_turtle(text)
        assert sorted(fast_t) == sorted(slow_t), text
        assert sorted(fast_q) == sorted(slow_q), text
        assert fast_px == slow_px, text
    # the ADVICE scenario explicitly: no phantom triple, full literal
    t, _, _ = P.parse_turtle(cases[0])
    assert t == [("ex:a", "ex:b", "line1\nex:a ex:b ex:c .\nline3")]
    # single-quoted strings: since the W3C single-quote STR branch landed
    # in _TOK (round 11), BOTH paths must ACCEPT identically — same
    # documented raw-newline divergence as the double-quote short string.
    sq_cases = [
        "ex:a ex:b 'sing\nex:p ex:q ex:r .\nle' .",
        # single-quote close-and-reopen on the same line
        "ex:a ex:b 'one\ntwo' , 'three\nfour' .",
        # escaped single quote keeps the string open across the newline
        "ex:a ex:b 'esc \\' still open\nex:x ex:y ex:z .\nclose' .",
    ]
    for text in sq_cases:
        fast_t, fast_q, fast_px = P.parse_turtle(text)
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(P, "_SIMPLE_LINE_RE", null_re)
            slow_t, slow_q, slow_px = P.parse_turtle(text)
        assert sorted(fast_t) == sorted(slow_t), text
        assert sorted(fast_q) == sorted(slow_q), text
        assert fast_px == slow_px, text
    t, _, _ = P.parse_turtle(sq_cases[0])
    assert t == [("ex:a", "ex:b", "sing\nex:p ex:q ex:r .\nle")]


def test_turtle_chunker_crlf_matches_slow_oracle():
    """ADVICE r9: CRLF-terminated @prefix/comment lines must be removed by
    the fast chunker's directive sub so chunk boundaries match the slow
    per-line oracle on CRLF files."""
    text = (
        "@prefix ex: <http://e.org/> .\r\n"
        "ex:a ex:b ex:c .\r\n"
        "# full line comment .\r\n"
        "ex:d ex:e ex:f .\r\n"
        "@prefix oth: <http://o.org/> .\r\n"
        "oth:g oth:h oth:i .\r\n"
    )
    norm = lambda cs: [" ".join(c.split()) for c in cs]  # noqa: E731
    for per_chunk in (1, 2, 1000):
        slow = norm(_turtle_statement_chunks_slow(text, per_chunk))
        for win in (0, 7):
            fast = norm(_turtle_statement_chunks(text, per_chunk, win))
            assert fast == slow, (per_chunk, win, fast, slow)


def test_fast_path_hit_rate_on_bulk_dump_shape():
    """VERDICT r9 task #6: pin the fast-path hit rate on a bulk-dump-
    shaped corpus so a parser change that silently degrades it fails a
    test instead of quietly doubling ingest cost.  The synthetic corpus
    mirrors the scale-probe generator's statement shapes (IRI/pname
    terms, plain/lang/typed literals, decimals)."""
    import kolibrie_spark.rdfio.parsers as P

    ttl = "@prefix ex: <http://example.org/> .\n" + "".join(
        f'ex:s{i} ex:p{i % 7} "value {i} with words"@en .\n'
        f"ex:s{i} ex:num {i}.5 .\n"
        f"ex:s{i} ex:ref <http://example.org/o/{i}> .\n"
        for i in range(500)
    )
    before = dict(P.FAST_PATH_STATS)
    triples, _, _ = P.parse_turtle(ttl)
    d_fast = P.FAST_PATH_STATS["fast"] - before["fast"]
    d_slow = P.FAST_PATH_STATS["slow"] - before["slow"]
    assert len(triples) == 1500
    assert d_fast + d_slow == 1500
    assert d_fast / (d_fast + d_slow) >= 0.99, (d_fast, d_slow)

    nt = "".join(
        f'<http://e/s{i}> <http://e/p> "v {i}" .\n' for i in range(200)
    )
    before = dict(P.FAST_PATH_STATS)
    P.parse_ntriples(nt)
    assert P.FAST_PATH_STATS["fast"] - before["fast"] == 200
    assert P.FAST_PATH_STATS["slow"] - before["slow"] == 0


def test_load_distributed_keeps_rdf_star_mappings(spark, tmp_path):
    """VERDICT r9 #1: a {| |}-annotated multi-file Turtle-star corpus
    loaded through the DISTRIBUTED path must leave the quoted-triple
    qid<->(s,p,o) mappings resolvable — the rdf_star_builtins-shaped
    query (SUBJECT()/OBJECT() destructuring) must return the same rows
    as the driver-side load_file path."""
    from kolibrie_spark.engine import SparqlEngine

    d = tmp_path / "star"
    d.mkdir()
    (d / "f0.ttl").write_text(
        "@prefix ex: <http://e/> .\n"
        'ex:s0 ex:bal "100" {| ex:conf "0.9" ; ex:src "a" |} .\n'
        "ex:plain0 ex:p ex:o0 .\n"
    )
    (d / "f1.ttl").write_text(
        "@prefix ex: <http://e/> .\n"
        'ex:s1 ex:bal "200" {| ex:conf "0.7" |} .\n'
        '<< ex:s2 ex:bal "300" >> ex:conf "0.5" .\n'
        "ex:plain1 ex:p ex:o1 .\n"
    )
    q = (
        "SELECT ?subj ?obj ?c WHERE { ?t <http://e/conf> ?c . "
        "BIND(SUBJECT(?t) AS ?subj) BIND(OBJECT(?t) AS ?obj) } "
        "ORDER BY ?c"
    )

    drv = SparqlEngine(spark)
    for f in sorted(d.iterdir()):
        drv.load_file(str(f))
    want = [tuple(r) for r in drv.query(q).collect()]
    assert len(want) == 3 and all(r[0] and r[1] for r in want), want

    dist = SparqlEngine(spark)
    dist.load_file(str(d), fmt="turtle", distributed=True)
    got = [tuple(r) for r in dist.query(q).collect()]
    assert got == want, (got, want)
    # the quad sets agree too (annotation triples included)
    assert sorted(map(tuple, dist.store.quads.collect())) == sorted(
        map(tuple, drv.store.quads.collect())
    )
    # and the mapping table itself: one row per distinct quoted triple
    assert dist.store.quoted.count() == 3


def test_load_distributed_ntriples_star_and_nquads_graphs(spark, tmp_path):
    """The tagged line readers keep << >> mappings (N-Triples-star) and
    the store registers named graphs from a distributed N-Quads load."""
    from kolibrie_spark.engine import SparqlEngine
    from kolibrie_spark.rdfio import read_rdf_tagged_df, split_tagged

    nt = tmp_path / "t.nt"
    nt.write_text(
        '<http://e/a> <http://e/p> "v" .\n'
        '<< <http://e/a> <http://e/p> "v" >> <http://e/conf> "0.9" .\n'
        '<< <http://e/b> <http://e/q> "w" >> <http://e/conf> "0.8" .\n'
    )
    quads, quoted = split_tagged(read_rdf_tagged_df(spark, str(nt), "ntriples"))
    assert quads.count() == 3
    qrows = {(r.qs, r.qp, r.qo) for r in quoted.collect()}
    assert qrows == {("http://e/a", "http://e/p", "v"), ("http://e/b", "http://e/q", "w")}

    e = SparqlEngine(spark)
    e.load_file(str(nt), distributed=True)
    assert e.store.quoted.count() == 2
    got = [
        tuple(r)
        for r in e.query(
            "SELECT ?s WHERE { ?t <http://e/conf> ?c . BIND(SUBJECT(?t) AS ?s) } ORDER BY ?s"
        ).collect()
    ]
    assert got == [("http://e/a",), ("http://e/b",)]

    nq = tmp_path / "g.nq"
    nq.write_text(
        '<http://e/a> <http://e/p> "1" <http://e/g1> .\n'
        '<http://e/b> <http://e/p> "2" <http://e/g2> .\n'
        '<http://e/c> <http://e/p> "3" .\n'
    )
    e2 = SparqlEngine(spark)
    e2.load_file(str(nq), distributed=True)
    graphs = {r.g for r in e2.store.named_graph_names().collect()}
    assert graphs == {"http://e/g1", "http://e/g2"}
    assert e2.store.triple_count() == 3


def test_load_distributed_infer_format_and_count(spark, tmp_path):
    """Format inference from the path extension (file and directory) and
    the returned parsed-quad count."""
    from kolibrie_spark.rdfio import infer_format
    from kolibrie_spark.store import QuadStore

    d = tmp_path / "corp"
    d.mkdir()
    (d / "a.ttl").write_text(
        "@prefix ex: <http://e/> .\nex:a ex:p ex:b .\nex:a ex:p ex:b .\n"
    )
    # Hadoop-convention hidden names in a listed directory are skipped,
    # as the text source skips them; the chunk reader reads a hidden
    # file named explicitly
    (d / ".a.ttl.crc").write_bytes(b"\x00\x01binary junk")
    (d / "_SUCCESS").write_text("")
    assert infer_format(str(d / "a.ttl")) == "turtle"
    assert infer_format(str(d)) == "turtle"
    store = QuadStore(spark)
    n = store.load_distributed(str(d))
    assert n == 2  # pre-dedup parse count, like load_into
    assert store.triple_count() == 1  # set semantics after dedup
    hidden = tmp_path / ".explicit.ttl"
    hidden.write_text("<http://e/x> <http://e/p> <http://e/o> .\n")
    assert QuadStore(spark).load_distributed(str(hidden)) == 1


def test_turtle_stream_bounds_match_whole_file_scan(tmp_path):
    """VERDICT r9 #2: the windowed streaming scan must place EXACTLY the
    whole-file regex scan's boundaries — across statements, short and
    long strings, comments and multi-byte UTF-8 straddling window edges,
    window sizes down to 1 byte, and malformed tails (which defer to the
    EOF window's fallback semantics)."""
    cases = [
        "".join(f'ex:s{i} ex:p "v {i} é" .\n' for i in range(200)),
        'ex:a ex:b """long\nstring . with dots.\n""" .\nex:c ex:d ex:e .\n',
        'ex:a ex:b """' + ("x . y\n" * 300) + '""" .\nex:c ex:d ex:e .\n',
        'ex:a ex:b "' + "A" * 5000 + '" .\nex:c ex:d ex:e .\n',
        'ex:a ex:b "café . 日本語" .\nex:c ex:d ex:e .\n',
        'ex:a ex:b "" .\nex:q ex:r """" .\nex:c ex:d ex:e .\n',
        "@prefix ex: <http://e/> .\r\nex:a ex:b ex:c .\r\nex:d ex:e ex:f .\r\n",
        'ex:a <unterm ex:b ex:c .\nex:d ex:e ex:f .\n',
        'ex:a ex:b ex:c . # tail comment',
        'ex:a ex:b "unterminated',
        "",
    ]
    for i, text in enumerate(cases):
        raw = text.encode("utf-8")
        p = tmp_path / f"c{i}.ttl"
        p.write_bytes(raw)
        for per in (1, 7, 1000):
            want = _ttl_whole_chunks(raw, per)
            for win in (1, 17, 64, 1 << 20):
                with open(p, "rb") as f:
                    got = list(R._turtle_stream_chunks(f, per, win))
                assert got == want, (i, per, win, got[:4], want[:4])


def test_rdfxml_stream_bounds_match_whole_file_scan(tmp_path):
    """Windowed RDF/XML scan == whole-document scan rows, including fat
    comments/CDATA with '>' inside straddling window edges,
    self-closing roots, and unsplittable small documents."""

    def doc(n, mid=""):
        items = "".join(
            f'  <rdf:Description rdf:about="http://e/s{i}">'
            f"<ex:n>café {i} 日本語</ex:n></rdf:Description>\n"
            for i in range(n)
        )
        return (
            '<?xml version="1.0"?>\n<rdf:RDF '
            'xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
            'xmlns:ex="http://e/">\n' + mid + items + "</rdf:RDF>\n"
        )

    cases = [
        doc(1),
        doc(30),
        doc(30, mid="<!-- a > fat . comment\n" + ("pad > x\n" * 50) + "-->\n"),
        doc(12, mid="<ex:x><![CDATA[ raw > < stuff ]]></ex:x>"),
        "<rdf:RDF xmlns:rdf='http://www.w3.org/1999/02/22-rdf-syntax-ns#'/>",
    ]
    for i, text in enumerate(cases):
        raw = text.encode("utf-8")
        p = tmp_path / f"x{i}.rdf"
        p.write_bytes(raw)
        for per in (1, 7, 500):
            want = _rdfxml_whole_chunks(raw, per)
            for win in (1, 16, 256, 1 << 20):
                with open(p, "rb") as f:
                    got = list(R._rdfxml_stream_chunks(f, per, win))
                assert got == want, (i, per, win, got[:3], want[:3])


def test_windowed_scan_end_to_end_through_readers(spark, tmp_path, monkeypatch):
    """The readers must produce identical triples with a window far
    smaller than the file (forcing many refills + carries mid-statement)
    as with the default window."""
    import kolibrie_spark.rdfio as R

    d = tmp_path / "win"
    d.mkdir()
    (d / "a.ttl").write_text(
        "@prefix ex: <http://e/> .\n"
        + "".join(f'ex:s{i} ex:p "value {i} — 日本語 é" .\n' for i in range(80))
        # fat single statement (larger than the forced window) with dots
        # and multi-byte chars, so a statement straddles many refills
        + 'ex:big ex:p "'
        + ("fat . value — 日本語 " * 40)
        + '" .\n'
    )
    want = sorted(tuple(r) for r in R.read_turtle_df(spark, str(d), 7).collect())
    monkeypatch.setattr(R, "SCAN_WINDOW_BYTES", 97)
    got = sorted(tuple(r) for r in R.read_turtle_df(spark, str(d), 7).collect())
    assert got == want and len(got) == 81

    x = tmp_path / "winx"
    x.mkdir()
    (x / "a.rdf").write_text(
        '<?xml version="1.0"?>\n<rdf:RDF '
        'xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
        'xmlns:ex="http://e/">\n'
        + "".join(
            f'<rdf:Description rdf:about="http://e/s{i}">'
            f"<ex:n>n{i} é</ex:n></rdf:Description>\n"
            for i in range(25)
        )
        + "</rdf:RDF>"
    )
    monkeypatch.undo()
    want_x = sorted(tuple(r) for r in R.read_rdfxml_df(spark, str(x), 6).collect())
    monkeypatch.setattr(R, "SCAN_WINDOW_BYTES", 53)
    got_x = sorted(tuple(r) for r in R.read_rdfxml_df(spark, str(x), 6).collect())
    assert got_x == want_x and len(got_x) == 25


def test_rdfxml_reader_skips_empty_files(spark, tmp_path):
    """A zero-byte file in a corpus directory (marker files, touch
    artifacts) must contribute zero triples, not crash the parse task
    with ET's 'no element found'."""
    from kolibrie_spark.rdfio import read_rdfxml_df

    d = tmp_path / "mixed"
    d.mkdir()
    (d / "a.rdf").write_text(
        '<?xml version="1.0"?>\n<rdf:RDF '
        'xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
        'xmlns:ex="http://e/">\n'
        '<rdf:Description rdf:about="http://e/s"><ex:n>v</ex:n>'
        "</rdf:Description>\n</rdf:RDF>"
    )
    (d / "empty.rdf").write_text("")
    (d / "ws.rdf").write_text("   \n  ")
    got = [tuple(r) for r in read_rdfxml_df(spark, str(d)).collect()]
    assert got == [("http://e/s", "http://e/n", "v", None)]


def test_parse_turtle_long_strings():
    """Long strings — single- and multi-line, both quote styles, with
    interior dots / quotes / escapes / fake directives — are inlined to
    short literals up front, so every downstream path (fast lines,
    tokenizer, annotations, lang tags) sees one-line statements.  The
    closer is the FIRST quote triple (escape-blind), matching the chunk
    scanners' boundary rule so slice boundaries and parse agree."""
    from kolibrie_spark.rdfio.parsers import parse_turtle

    px = {"ex": "http://e/"}

    t, _, _ = parse_turtle('ex:a ex:b """x y""" .', prefixes=px)
    assert t == [("http://e/a", "http://e/b", "x y")]

    t, _, _ = parse_turtle(
        'ex:big ex:p """fat . value\nline2 "q" \\" esc\n""" .', prefixes=px
    )
    assert t == [
        ("http://e/big", "http://e/p", 'fat . value\nline2 "q" " esc\n')
    ]

    t, _, _ = parse_turtle("ex:a ex:b '''sq \"dq\" . \nline''' .", prefixes=px)
    assert t == [("http://e/a", "http://e/b", 'sq "dq" . \nline')]

    t, _, _ = parse_turtle('ex:a ex:b """x"""@en .', prefixes=px)
    assert t == [("http://e/a", "http://e/b", "x@en")]

    t, _, _ = parse_turtle('ex:a ex:b """x"""^^<http://t> .', prefixes=px)
    assert t == [("http://e/a", "http://e/b", "x")]

    # interior lines that LOOK like directives/comments stay content
    t, _, _ = parse_turtle(
        'ex:a ex:b """has @prefix nope: <x> .\n# not a comment\n""" .',
        prefixes=px,
    )
    assert "@prefix" in t[0][2] and "# not a comment" in t[0][2]

    # mixed with fast-path lines and annotations
    t, q, _ = parse_turtle(
        'ex:s1 ex:p "v" .\n'
        'ex:c ex:d """ml\n. inside\n""" .\n'
        'ex:ann ex:bal "1" {| ex:conf "0.9" |} .\n',
        prefixes=px,
    )
    assert ("http://e/c", "http://e/d", "ml\n. inside\n") in t
    assert len(q) == 1


def test_offset_readers_empty_directory(spark, tmp_path):
    """An empty corpus directory must return an empty DataFrame, not
    crash in sc.union([]) (review regression catch)."""
    from kolibrie_spark.rdfio import read_rdfxml_df, read_turtle_df

    d = tmp_path / "empty"
    d.mkdir()
    assert read_turtle_df(spark, str(d)).count() == 0
    assert read_rdfxml_df(spark, str(d)).count() == 0


def test_bom_prefixed_documents(spark, tmp_path):
    """The RDF grammars allow an optional leading U+FEFF (Turtle spec
    sec 6.2) and Windows-exported dumps routinely carry one: every
    parser sheds it, the prefix head pass still collects @prefix from a
    BOM'd first line, and the readers produce identical triples to the
    BOM-less twin files."""
    from kolibrie_spark.rdfio import (
        read_ntriples_df,
        read_rdfxml_df,
        read_turtle_df,
    )
    from kolibrie_spark.rdfio.parsers import parse_nquads, parse_turtle

    ttl = "@prefix ex: <http://e/> .\nex:a ex:b ex:c .\nex:d ex:e ex:f .\n"
    nt = "<http://e/a> <http://e/b> <http://e/c> .\n"
    xml = (
        '<?xml version="1.0"?>\n<rdf:RDF '
        'xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
        'xmlns:ex="http://e/">\n'
        '<rdf:Description rdf:about="http://e/a"><ex:n>v</ex:n>'
        "</rdf:Description>\n</rdf:RDF>\n"
    )
    d1, d2 = tmp_path / "plain", tmp_path / "bom"
    d1.mkdir(), d2.mkdir()
    for name, body in [("a.ttl", ttl), ("a.nt", nt), ("a.rdf", xml)]:
        (d1 / name).write_bytes(body.encode("utf-8"))
        (d2 / name).write_bytes(b"\xef\xbb\xbf" + body.encode("utf-8"))

    for reader, name in [
        (read_turtle_df, "a.ttl"),
        (read_ntriples_df, "a.nt"),
        (read_rdfxml_df, "a.rdf"),
    ]:
        want = sorted(tuple(r) for r in reader(spark, str(d1 / name)).collect())
        got = sorted(tuple(r) for r in reader(spark, str(d2 / name)).collect())
        assert got == want and len(got) >= 1, (name, got, want)

    # BOM'd prefix line must still resolve prefixed names (head pass)
    rows = sorted(
        tuple(r) for r in read_turtle_df(spark, str(d2 / "a.ttl")).collect()
    )
    assert rows[0][0] == "http://e/a"

    # driver parsers directly
    assert parse_turtle("﻿" + ttl)[0][0] == (
        "http://e/a", "http://e/b", "http://e/c"
    )
    assert parse_nquads(
        "﻿<http://e/a> <http://e/b> <http://e/c> <http://e/g> .\n"
    )[0][0][3] == "http://e/g"


def test_compressed_dumps_route_to_text_fallback(spark, tmp_path):
    """Real dumps ship gzipped: the chunk scans read through the codec
    (the line reader through the text source's), and so does the prefix
    head pass, which once read codec bytes and silently lost @prefix
    resolution.  infer_format strips compression suffixes."""
    import gzip

    from kolibrie_spark.rdfio import (
        infer_format,
        read_ntriples_df,
        read_rdfxml_df,
        read_turtle_df,
    )
    from kolibrie_spark.store import QuadStore

    d = tmp_path / "gz"
    d.mkdir()
    ttl = "@prefix ex: <http://e/> .\nex:a ex:b ex:c .\nex:d ex:e ex:f .\n"
    with gzip.open(d / "a.ttl.gz", "wt") as f:
        f.write(ttl)
    rows = sorted(
        tuple(r) for r in read_turtle_df(spark, str(d / "a.ttl.gz")).collect()
    )
    assert rows == [
        ("http://e/a", "http://e/b", "http://e/c", None),
        ("http://e/d", "http://e/e", "http://e/f", None),
    ]

    x = tmp_path / "gzx"
    x.mkdir()
    with gzip.open(x / "a.rdf.gz", "wt") as f:
        f.write(
            '<?xml version="1.0"?><rdf:RDF '
            'xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
            'xmlns:ex="http://e/"><rdf:Description rdf:about="http://e/a">'
            "<ex:n>v</ex:n></rdf:Description></rdf:RDF>"
        )
    assert read_rdfxml_df(spark, str(x / "a.rdf.gz")).count() == 1

    n = tmp_path / "gzn"
    n.mkdir()
    with gzip.open(n / "a.nt.gz", "wt") as f:
        f.write("<http://e/a> <http://e/b> <http://e/c> .\n")
    assert read_ntriples_df(spark, str(n / "a.nt.gz")).count() == 1

    assert infer_format(str(d / "a.ttl.gz")) == "turtle"
    assert infer_format(str(d)) == "turtle"
    store = QuadStore(spark)
    assert store.load_distributed(str(d)) == 2


def test_mixed_plain_and_compressed_corpus(spark, tmp_path):
    """Per-file codecs: plain, gzip and bz2 files of one corpus each
    open with their own codec in the one chunk scan, and the results
    union.  Prefix heads stream through the stdlib codecs on the driver
    instead of scanning the whole decompressed corpus."""
    import bz2
    import gzip

    from kolibrie_spark.rdfio import read_rdfxml_df, read_turtle_df

    d = tmp_path / "mixed"
    d.mkdir()
    (d / "plain.ttl").write_text(
        "@prefix ex: <http://e/> .\nex:p1 ex:b ex:c .\n"
    )
    with gzip.open(d / "z.ttl.gz", "wt") as f:
        f.write("@prefix ex: <http://e/> .\nex:z1 ex:b ex:c .\n")
    with bz2.open(d / "y.ttl.bz2", "wt") as f:
        f.write("@prefix ex: <http://e/> .\nex:y1 ex:b ex:c .\n")
    rows = sorted(tuple(r)[0] for r in read_turtle_df(spark, str(d)).collect())
    assert rows == ["http://e/p1", "http://e/y1", "http://e/z1"], rows

    x = tmp_path / "mixedx"
    x.mkdir()

    def doc(n):
        return (
            '<?xml version="1.0"?><rdf:RDF '
            'xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
            f'xmlns:ex="http://e/"><rdf:Description rdf:about="http://e/{n}">'
            "<ex:n>v</ex:n></rdf:Description></rdf:RDF>"
        )

    (x / "p.rdf").write_text(doc("p"))
    with gzip.open(x / "z.rdf.gz", "wt") as f:
        f.write(doc("z"))
    rows = sorted(r.s for r in read_rdfxml_df(spark, str(x)).collect())
    assert rows == ["http://e/p", "http://e/z"]


def test_streaming_compressed_reader_bounded_memory(spark, tmp_path, monkeypatch):
    """Compressed Turtle streams through the windowed chunk scan: one
    scan task per file decompresses it, strict-scans each window with
    carry, and finishes with the fallback regex at EOF.  Forced 64-byte
    windows make statements — including a multi-line long string with
    interior dots, an annotation, and a raw-newline short string —
    straddle many refills; triples must equal the driver parse for
    gzip, bz2 and xz."""
    import bz2
    import gzip
    import lzma

    from kolibrie_spark.rdfio.parsers import parse_turtle

    ttl = (
        "@prefix ex: <http://e/> .\n"
        + "".join(f'ex:s{i} ex:p "v {i} é" .\n' for i in range(60))
        + 'ex:big ex:p """' + ("fat . line\n" * 30) + '""" .\n'
        + 'ex:ann ex:bal "1" {| ex:conf "0.9" |} .\n'
        + 'ex:raw ex:p "multi\nline . string" .\n'
        + "ex:tail ex:q ex:r .\n"
    )
    d = tmp_path / "stream"
    d.mkdir()
    with gzip.open(d / "a.ttl.gz", "wt") as f:
        f.write(ttl)
    with bz2.open(d / "b.ttl.bz2", "wt") as f:
        f.write(ttl)
    with lzma.open(d / "c.ttl.xz", "wt") as f:
        f.write(ttl)
    monkeypatch.setattr(R, "SCAN_WINDOW_BYTES", 64)
    want = sorted(parse_turtle(ttl)[0])
    for fn in ("a.ttl.gz", "b.ttl.bz2", "c.ttl.xz"):
        got = sorted(
            (r.s, r.p, r.o)
            for r in R.read_turtle_df(spark, str(d / fn)).collect()
        )
        assert got == want, fn

    # tagged twin keeps the quoted mappings through the stream path
    quads, quoted = R.split_tagged(
        R.read_rdf_tagged_df(spark, str(d / "a.ttl.gz"), "turtle")
    )
    assert quoted.count() == 1


def test_turtle_stream_chunks_match_offset_scanner(tmp_path):
    """The windowed chunk scanner must yield byte-identical chunks to a
    whole-buffer scan of the same bytes (strict-match-and-carry
    discipline), token-soup fuzzed at windows down to 7 bytes."""
    import random

    from kolibrie_spark.rdfio import _turtle_stream_chunks

    rng = random.Random(7)
    pieces = [
        "ex:s ex:p ex:o .\n", " . ", ". ", '."', '" ', "' ", "<", ">",
        "#c . \n", '"""', "'''", "\\", '\\"', "\n", "\r\n", "1.5 ",
        "café 日本語 ", '"lit . ', 'x" .\n', "@prefix ex: <http://e/> .\n",
        '{| ex:a "1" |}', '"""block\n. dots\n""" ', "'sq' ", '""', "''",
        ". \n", "ex:p", " ", ";", ",",
    ]
    p = tmp_path / "soup.ttl"
    for t in range(150):
        raw = "".join(
            rng.choice(pieces) for _ in range(rng.randrange(1, 80))
        ).encode("utf-8")
        p.write_bytes(raw)
        for per in (1, 3, 17):
            want = _ttl_whole_chunks(p.read_bytes(), per)
            for win in (7, 31, 127):
                got = list(
                    _turtle_stream_chunks(io.BytesIO(raw), per, win)
                )
                assert got == want, (t, per, win)


class _ShortReadIO:
    """File object whose read() legally returns FEWER bytes than asked
    mid-stream (socket-backed shape) — pins the ADVICE r10 fix that a
    short read must not be treated as EOF."""

    def __init__(self, raw, max_read):
        import io

        self._b = io.BytesIO(raw)
        self._max = max_read

    def read(self, n=-1):
        if n is None or n < 0:
            return self._b.read()
        return self._b.read(min(n, self._max))


def test_turtle_stream_chunks_short_reads_not_eof(tmp_path):
    """A read() that returns fewer bytes than requested mid-stream must
    accumulate to a full window, not switch to the EOF regex early
    (which could mis-split statements).  Chunks must be byte-identical
    to the full-read path across pathological max_read sizes."""
    import io
    import random

    from kolibrie_spark.rdfio import _turtle_stream_chunks

    rng = random.Random(11)
    pieces = [
        "ex:s ex:p ex:o .\n", " . ", '."', '"""block\n. dots\n""" ',
        "#c . \n", '{| ex:a "1" |}', '"lit . ', 'x" .\n', "\r\n",
        "@prefix ex: <http://e/> .\n", "'sq' ", ". \n", ";", ",", " ",
    ]
    for t in range(40):
        raw = "".join(
            rng.choice(pieces) for _ in range(rng.randrange(1, 60))
        ).encode("utf-8")
        for per in (1, 5):
            for win in (13, 64):
                want = list(_turtle_stream_chunks(io.BytesIO(raw), per, win))
                for max_read in (1, 3, 7):
                    got = list(
                        _turtle_stream_chunks(
                            _ShortReadIO(raw, max_read), per, win
                        )
                    )
                    assert got == want, (t, per, win, max_read)


def test_long_string_escaped_quote_before_closer(spark, tmp_path):
    """ADVICE r10 fix pin: the long-string closer is the first quote
    triple NOT inside an escape pair (W3C STRING_LITERAL_LONG_*), so
    serializer output for literals ending in a quote (q3 abc backslash
    q4) and escaped-quote-runs mid-string parse to the right values —
    the old escape-blind lazy closer cut these early
    (loud error for the first shape, silent mid-statement re-open risk
    for the second).  Pinned across ALL the boundary engines: driver
    parse, whole-text chunk scan, slow oracle, whole-buffer regex scan,
    windowed stream chunker, and the Spark reader."""
    from kolibrie_spark.rdfio import (
        _turtle_stream_chunks,
        parse_turtle,
        read_turtle_df,
    )

    ttl = (
        '@prefix ex: <http://e/> .\n'
        'ex:s1 ex:p """abc\\"""" .\n'
        'ex:s2 ex:p """a\\"""bc""" .\n'
        "ex:s3 ex:p '''x\\'''' .\n"
        'ex:s4 ex:p """multi\nline ""inner"" q""" .\n'
        'ex:s5 ex:p "plain" .\n'
    )
    want = {
        ("http://e/s1", "abc\""),
        ("http://e/s2", 'a"""bc'),
        ("http://e/s3", "x'"),
        ("http://e/s4", 'multi\nline ""inner"" q'),
        ("http://e/s5", "plain"),
    }
    triples, _, _ = parse_turtle(ttl)
    assert {(s, o) for s, _, o in triples} == want

    # every chunking engine agrees on statement boundaries (5 statements)
    for per in (1, 2, 5):
        fast = _turtle_statement_chunks(ttl, per)
        slow = _turtle_statement_chunks_slow(ttl, per)
        assert [c.strip() for c in fast] == [c.strip() for c in slow], per
        parsed = [t for c in fast for t in parse_turtle(c, {"ex": "http://e/"})[0]]
        assert {(s, o) for s, _, o in parsed} == want, per

    p = tmp_path / "esc.ttl"
    p.write_bytes(ttl.encode("utf-8"))
    raw = p.read_bytes()
    for per in (1, 3):
        bounds_chunks = _ttl_whole_chunks(raw, per)
        for win in (11, 64, 1 << 20):
            stream_chunks = list(
                _turtle_stream_chunks(io.BytesIO(raw), per, win)
            )
            assert stream_chunks == bounds_chunks, (per, win)

    rows = read_turtle_df(spark, str(p)).select("s", "o").collect()
    assert {(r.s, r.o) for r in rows} == want


def _xml_soup(rng, n_pieces):
    pieces = [
        "<rdf:RDF xmlns:rdf='http://www.w3.org/1999/02/22-rdf-syntax-ns#'>",
        "</rdf:RDF>", "<a>", "</a>", "<b x='1'>", "</b>", "<c/>",
        "<d y=\"v>v\">", "</d>", "text ", "< ", "> ", "<!-- c > -->",
        "<![CDATA[ <x> ]]>", "<?pi v?>", "<!DOCTYPE t>", "&amp; ",
        "<e z='q\"q'>", "</e>", "\n", "café ", "<f/>", "<g>", "</g>",
    ]
    return "".join(
        rng.choice(pieces) for _ in range(n_pieces)
    ).encode("utf-8")


def test_rdfxml_stream_chunks_match_bounds_scanner(tmp_path):
    """The windowed XML chunk scanner (VERDICT r10 task #3) must
    reproduce a whole-document scan's rows exactly: same chunk indices,
    same root tag, and byte-identical bodies — structured documents and
    token soup, fuzzed at windows down to 16 bytes."""
    import random

    from kolibrie_spark.rdfio import _rdfxml_stream_chunks

    rng = random.Random(13)
    docs = []
    # structured: splittable documents of varying sizes
    for n in (0, 1, 3, 12, 40):
        body = "".join(
            f'<rdf:Description rdf:about="http://e/s{i}">'
            f"<ex:p xmlns:ex=\"http://e/\">v {i} &lt;&gt; café</ex:p>"
            f"</rdf:Description>\n"
            for i in range(n)
        )
        docs.append(
            (
                '<?xml version="1.0"?>\n<rdf:RDF '
                'xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#">\n'
                + body
                + "</rdf:RDF>\n"
            ).encode("utf-8")
        )
    # soups
    for t in range(60):
        docs.append(_xml_soup(rng, rng.randrange(1, 60)))

    p = tmp_path / "doc.rdf"
    for di, raw in enumerate(docs):
        p.write_bytes(raw)
        for per in (1, 2, 5):
            want = _rdfxml_whole_chunks(p.read_bytes(), per)
            for win in (16, 64, 1 << 20):
                got = list(
                    _rdfxml_stream_chunks(io.BytesIO(raw), per, win)
                )
                assert len(got) == len(want), (di, per, win)
                for (gci, groot, gbody), (wci, wroot, wbody) in zip(got, want):
                    assert gci == wci, (di, per, win)
                    assert groot == wroot, (di, per, win)
                    assert gbody == wbody, (di, per, win, gci)
                # short-read streams must not change the chunks
                got_sr = list(
                    _rdfxml_stream_chunks(_ShortReadIO(raw, 5), per, win)
                )
                assert got_sr == got, (di, per, win)


def test_rdfxml_compressed_streaming_end_to_end(spark, tmp_path):
    """A gzip-compressed (and a BOM'd bz2) RDF/XML file streams through
    the windowed chunker and produces the same triples as the
    uncompressed file — no whole-document read, so no >2 GB
    decompressed ceiling."""
    import bz2 as _bz2
    import gzip as _gzip

    from kolibrie_spark.rdfio import read_rdfxml_df

    xml = (
        '<?xml version="1.0"?>\n<rdf:RDF '
        'xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
        'xmlns:ex="http://e/">\n'
        + "".join(
            f'<rdf:Description rdf:about="http://e/s{i}">'
            f"<ex:p>v {i} café</ex:p></rdf:Description>\n"
            for i in range(25)
        )
        + "</rdf:RDF>\n"
    )
    plain = tmp_path / "plain" / "d.rdf"
    plain.parent.mkdir()
    plain.write_text(xml, encoding="utf-8")
    gz = tmp_path / "gz" / "d.rdf.gz"
    gz.parent.mkdir()
    gz.write_bytes(_gzip.compress(xml.encode("utf-8")))
    bz = tmp_path / "bz" / "d.rdf.bz2"
    bz.parent.mkdir()
    bz.write_bytes(_bz2.compress(b"\xef\xbb\xbf" + xml.encode("utf-8")))

    want = {
        (r.s, r.p, r.o)
        for r in read_rdfxml_df(spark, str(plain), 4).collect()
    }
    assert len(want) == 25
    for comp in (gz, bz):
        got = {
            (r.s, r.p, r.o)
            for r in read_rdfxml_df(spark, str(comp), 4).collect()
        }
        assert got == want, comp


def test_single_quoted_short_strings(spark, tmp_path):
    """W3C Turtle STRING_LITERAL_SINGLE_QUOTE ('lit'): the chunk
    scanners always handled its boundaries, but the tokenizer had no
    single-quote branch, so any dump using the alternate quote style
    failed with a lex error (r11 gap found while tightening the
    long-string closers).  Pinned through the driver parse AND the
    distributed reader, with escapes, lang tags, and datatypes."""
    from kolibrie_spark.rdfio import parse_turtle, read_turtle_df

    ttl = (
        "@prefix ex: <http://e/> .\n"
        "ex:s1 ex:p 'plain sq' .\n"
        "ex:s2 ex:p 'it\\'s escaped' .\n"
        "ex:s3 ex:p 'has \"dq\" inside'@en .\n"
        "ex:s4 ex:p 'typed'^^<http://www.w3.org/2001/XMLSchema#string> .\n"
        "ex:s5 ex:p '' .\n"
    )
    want = {
        ("http://e/s1", "plain sq"),
        ("http://e/s2", "it's escaped"),
        ("http://e/s3", 'has "dq" inside@en'),
        ("http://e/s4", "typed"),
        ("http://e/s5", ""),
    }
    triples, _, _ = parse_turtle(ttl)
    assert {(s, o) for s, _, o in triples} == want
    p = tmp_path / "sq.ttl"
    p.write_text(ttl, encoding="utf-8")
    rows = read_turtle_df(spark, str(p)).select("s", "o").collect()
    assert {(r.s, r.o) for r in rows} == want


# --------------------------------------------------------------- r12: [ ] ( )
def _canon_bnodes(triples):
    """Label-insensitive canonical form for the bracket/collection tests:
    blank nodes in the generated docs form TREES, so each node's
    signature is the recursive hash of its outgoing (p, o) edges.  Rows
    may carry trailing fields (a graph), kept as they are."""
    out = {}
    for s, p, o, *_ in triples:
        out.setdefault(s, []).append((p, o))
    memo = {}

    def sig(term, depth=0):
        if not isinstance(term, str) or not term.startswith("_:") or depth > 50:
            return term
        if term in memo:
            return memo[term]
        memo[term] = "•cycle"
        memo[term] = "•(" + "|".join(
            sorted(f"{p}→{sig(o, depth + 1)}" for p, o in out.get(term, []))
        ) + ")"
        return memo[term]

    return sorted((sig(s), p, sig(o), *rest) for s, p, o, *rest in triples)


def test_turtle_bnode_property_lists_and_collections():
    """VERDICT r11 task #4: '[ p o ; ... ]' property lists and '( ... )'
    collections — beyond reference parity (its line-based subset,
    sparql_database.rs:965-1141, rejects them too) but line one of every
    OWL-shaped public dump."""
    import kolibrie_spark.rdfio.parsers as P
    from kolibrie_spark.schema import RDF_FIRST, RDF_NIL, RDF_REST, RDF_TYPE

    pre = "@prefix ex: <http://e/> .\n"
    # object property list, nested, multi-line (the OWL restriction shape)
    t, _, _ = P.parse_turtle(
        pre + "ex:a ex:p [\n  ex:q ex:v ;\n  ex:r \"x\" , \"y\"\n] ."
    )
    b = [o for s, p, o in t if s == "http://e/a"][0]
    assert b.startswith("_:")
    assert (b, "http://e/q", "http://e/v") in t
    assert (b, "http://e/r", "x") in t and (b, "http://e/r", "y") in t
    # standalone subject form '[ ... ] .' and subject-with-POs form
    t2, _, _ = P.parse_turtle(pre + "[ ex:q ex:v ] .")
    assert len(t2) == 1 and t2[0][1:] == ("http://e/q", "http://e/v")
    t3, _, _ = P.parse_turtle(pre + "[ ex:q ex:v ] ex:p ex:o .")
    assert len(t3) == 2 and {x[1] for x in t3} == {"http://e/q", "http://e/p"}
    # collection -> first/rest chain; () -> rdf:nil
    t4, _, _ = P.parse_turtle(pre + 'ex:a ex:list ( ex:x 1 "two" ) .')
    firsts = [o for s, p, o in t4 if p == RDF_FIRST]
    assert firsts == ["http://e/x", "1", "two"]
    rests = [o for s, p, o in t4 if p == RDF_REST]
    assert rests[-1] == RDF_NIL and len(rests) == 3
    t5, _, _ = P.parse_turtle(pre + "ex:a ex:list () .")
    assert t5 == [("http://e/a", "http://e/list", RDF_NIL)]
    # empty anon '[]' as object
    t6, _, _ = P.parse_turtle(pre + "ex:b ex:p [] .")
    assert len(t6) == 1 and t6[0][2].startswith("_:")
    # 'a' shorthand inside brackets; distinct anon labels per bracket
    t7, _, _ = P.parse_turtle(
        pre + "ex:a ex:p [ a ex:T ] .\nex:b ex:p [ a ex:T ] ."
    )
    bn = {s for s, p, o in t7 if p == RDF_TYPE}
    assert len(bn) == 2
    # anon_prefix salts the labels (chunk scoping)
    t8, _, _ = P.parse_turtle("ex:a ex:p [ ex:q ex:v ] .", anon_prefix="p1c2.")
    assert any(s.startswith("_:p1c2.anon") for s, _, _ in t8)
    # N-Triples / N-Quads stay strict: '[' is a loud error
    for fn in (P.parse_ntriples, P.parse_nquads):
        with pytest.raises(P.RdfParseError):
            fn("<urn:a> <urn:p> [ ] .")
    # unterminated forms fail loudly
    for bad in ("ex:a ex:p [ ex:q ex:v .", "ex:a ex:p ( ex:x ."):
        with pytest.raises(P.RdfParseError):
            P.parse_turtle(pre + bad)


def test_turtle_bracket_chunker_differential_and_fuzz():
    """The strict scanners must be boundary-safe on '.' inside brackets
    (pname locals with dots, decimals): fast chunker == slow per-line
    oracle on bracket-bearing text, and chunked parse == whole-doc parse
    (label-insensitively) across randomized docs."""
    import random

    import kolibrie_spark.rdfio as R
    import kolibrie_spark.rdfio.parsers as P

    rng = random.Random(42)

    def rand_statement(i):
        kind = rng.randrange(5)
        if kind == 0:
            return f"ex:s{i} ex:p ex:o{i} ."
        if kind == 1:  # brackets with dotted pname locals and decimals
            return (
                f"ex:s{i} ex:p [ ex:q ex:v.{i} ; ex:num 1.{i} ;"
                f' ex:lit "dot . inside {i}" ] .'
            )
        if kind == 2:  # multi-line bracket
            return f"ex:s{i} ex:p [\n  ex:q ex:v{i} ;\n  ex:r {i}.5\n] ."
        if kind == 3:  # collection with nested bracket
            return f'ex:s{i} ex:list ( ex:x{i} {i} [ ex:in "n{i}" ] ) .'
        return f"[ ex:q ex:v{i} ] ex:p ex:o{i} ."

    for trial in range(8):
        body = "\n".join(rand_statement(i) for i in range(rng.randrange(3, 30)))
        text = "@prefix ex: <http://e/> .\n" + body + "\n"
        # chunker differential: fast == slow oracle at several chunk sizes
        norm = lambda cs: [" ".join(c.split()) for c in cs]  # noqa: E731
        for per in (1, 2, 7):
            fast = norm(_turtle_statement_chunks(text, per, 16))
            slow = norm(_turtle_statement_chunks_slow(text, per))
            assert fast == slow, (trial, per)
        # chunked parse == whole-doc parse, label-insensitively
        whole, _, pfx = P.parse_turtle(text)
        per_chunk = []
        for ci, ch in enumerate(_turtle_statement_chunks(text, 2)):
            ch = R._TTL_DIRECTIVE_LINE_RE.sub("", ch)
            t, _, _ = P.parse_turtle(ch, prefixes=pfx, anon_prefix=f"c{ci}.")
            per_chunk.extend(t)
        assert _canon_bnodes(per_chunk) == _canon_bnodes(whole), trial


def test_turtle_bracket_distributed_roundtrip(spark, tmp_path, monkeypatch):
    """Distributed-reader round-trip with '[ ]' statements spanning chunk
    and scan-window boundaries: plain dir scan, tiny scan window, and
    a gzip file with a tiny window all produce the whole-doc parse
    (label-insensitively), with anon labels DISTINCT across chunks."""
    import gzip

    import kolibrie_spark.rdfio as R
    import kolibrie_spark.rdfio.parsers as P
    from kolibrie_spark.schema import RDF_FIRST

    stmts = []
    for i in range(40):
        stmts.append(
            f"ex:s{i} ex:p [\n  ex:q ex:v.{i} ;\n  ex:num {i}.25 ;\n"
            f'  ex:lit "dot . in {i}"\n] .'
        )
        stmts.append(f"ex:s{i} ex:list ( ex:x{i} {i} ) .")
    text = "@prefix ex: <http://e/> .\n" + "\n".join(stmts) + "\n"
    whole, _, _ = P.parse_turtle(text)
    want = _canon_bnodes(whole)

    d = tmp_path / "br"
    d.mkdir()
    (d / "a.ttl").write_text(text)

    got_plain = [
        (r.s, r.p, r.o) for r in R.read_turtle_df(spark, str(d), 3).collect()
    ]
    assert _canon_bnodes(got_plain) == want
    # 80 anon-bearing statements over per_chunk=3 chunks: every bracket's
    # node must stay distinct (the cross-chunk collision the salt fixes)
    anon = {t for tr in got_plain for t in tr if t.startswith("_:")}
    assert len(anon) == len(
        {t for tr in whole for t in tr if isinstance(t, str) and t.startswith("_:")}
    )

    # tiny windows: brackets straddle scan-window refills
    monkeypatch.setattr(R, "SCAN_WINDOW_BYTES", 128)
    got_win = [
        (r.s, r.p, r.o) for r in R.read_turtle_df(spark, str(d), 3).collect()
    ]
    monkeypatch.undo()
    assert _canon_bnodes(got_win) == want

    # gzip stream with a tiny window: brackets straddle decompressed
    # window refills
    g = tmp_path / "brgz"
    g.mkdir()
    with gzip.open(g / "a.ttl.gz", "wt") as fh:
        fh.write(text)
    monkeypatch.setattr(R, "SCAN_WINDOW_BYTES", 256)
    got_gz = [
        (r.s, r.p, r.o)
        for r in R.read_turtle_df(spark, str(g / "a.ttl.gz"), 3).collect()
    ]
    assert _canon_bnodes(got_gz) == want
    # structural sanity: collection chains intact end-to-end
    firsts = [o for s, p, o in got_gz if p == RDF_FIRST]
    assert len(firsts) == 80


def test_load_into_compressed_files(spark, tmp_path):
    """r12: the driver-side interactive load decompresses and infers the
    format from the extension UNDER the codec suffix (it used to hand
    raw gzip bytes to the parser and KeyError on fmt='gz'); a codec it
    cannot decompress is refused by name."""
    import gzip

    import kolibrie_spark.rdfio as R
    from kolibrie_spark.store import QuadStore

    ttl = '@prefix ex: <http://e/> .\nex:a ex:p "v café" .\nex:b ex:p "w" .\n'
    g = tmp_path / "d.ttl.gz"
    with gzip.open(g, "wt") as fh:
        fh.write(ttl)
    store = QuadStore(spark)
    assert R.load_into(store, str(g)) == 2
    assert store.quads.count() == 2

    z = tmp_path / "d.nt.zst"
    z.write_bytes(b"\x28\xb5\x2f\xfd")  # a zstd frame magic
    with pytest.raises(ValueError, match=r"d\.nt\.zst.*\.zst is not a codec"):
        R.load_into(QuadStore(spark), str(z))


def test_unknown_format_extension_and_codec_raise_named_value_errors(
    spark, tmp_path
):
    """Errors that name the cause: an unknown format name, an unknown
    extension, a codec the readers cannot decompress and a path the
    driver cannot list each raise ValueError naming the input (and, for
    formats, the accepted names) — on the driver, before any Spark job."""
    from kolibrie_spark.store import QuadStore

    with pytest.raises(ValueError, match=r"unknown RDF format 'txt'; accepted: nt, "):
        R._parse("x", "txt")
    with pytest.raises(ValueError, match=r"extension 'txt' of '/tmp/a\.txt'.*ttl"):
        R.infer_format("/tmp/a.txt")
    with pytest.raises(ValueError, match=r"unknown RDF format 'txt'"):
        QuadStore(spark).load_distributed(str(tmp_path), fmt="txt")

    z = tmp_path / "d.ttl.zst"
    z.write_bytes(b"\x28\xb5\x2f\xfd")
    for load in (R.load_into, lambda st, p: st.load_distributed(p)):
        with pytest.raises(ValueError, match=r"d\.ttl\.zst.*\.zst is not a codec"):
            load(QuadStore(spark), str(z))
    for codec in ("lz4", "snappy"):
        f = tmp_path / f"d.nt.{codec}"
        f.write_bytes(b"\x00")
        with pytest.raises(ValueError, match=rf"\.{codec} is not a codec"):
            R.read_ntriples_df(spark, str(f))
    with pytest.raises(ValueError, match=r"cannot list 'hdfs://nn/d\.ttl'.*hdfs://"):
        QuadStore(spark).load_distributed("hdfs://nn/d.ttl")
    with pytest.raises(ValueError, match=r"no RDF file at"):
        R.load_into(QuadStore(spark), str(tmp_path / "missing.ttl"))


# ------------------------------------ distributed reader == driver parser
_TTL_A = (
    "\ufeff@prefix ex: <http://a.example/> .\n"
    'ex:s1 ex:p "v1" {| ex:conf "0.9" ; ex:src "feed" |} .\n'
    "ex:s2 ex:p 1.5 .\n"
    "ex:s3 ex:knows _:x .\n"
    'ex:s4 ex:doc """multi. line.\nliteral""" .\n'
    '_:x ex:name "shared blank" .\n'
    'ex:s5 ex:p [ ex:q "anon one" ; ex:r [ ex:t "nested" ] ] .\n'
    'ex:s6 ex:list ( ex:i1 "two" 3 ) .\n'
    '<< ex:s7 ex:p "quoted" >> ex:conf "0.5" .\n'
    "ex:s8 ex:knows _:x .\n"
    'ex:s9 ex:p [ ex:q "anon two" ] .\n'
)
# CRLF, and the same prefix label bound to another IRI
_TTL_B = (
    "@prefix ex: <http://b.example/> .\r\n"
    'ex:s1 ex:p "v1" .\r\n'
    'ex:t ex:q ex:o ; ex:r "x" , "y" .\r\n'
    'ex:s9 ex:p "w" {| ex:conf "0.1" |} .\r\n'
)
_NT_A = (
    '\ufeff<http://e/a> <http://e/p> "v" .\n'
    '<< <http://e/a> <http://e/p> "v" >> <http://e/conf> "0.9" .\n'
    '_:b1 <http://e/name> "blank" .\n'
    "<http://e/c> <http://e/knows> _:b1 .\n"
)
_NT_B = (
    '<http://e/d> <http://e/p> "w"@en .\r\n'
    '<http://e/d> <http://e/q> "5"^^<http://www.w3.org/2001/XMLSchema#int> .\r\n'
)
_NQ_A = (
    '\ufeff<http://e/a> <http://e/p> "1" <http://e/g1> .\n'
    '<http://e/b> <http://e/p> "2" .\n'
    '<< <http://e/a> <http://e/p> "1" >> <http://e/conf> "0.9" <http://e/g2> .\n'
)
_NQ_B = (
    '<http://e/c> <http://e/p> "3" <http://e/g1> .\r\n'
    '<http://e/d> <http://e/p> "4" <http://e/g3> .\r\n'
)
_RDF_HEAD = (
    '<?xml version="1.0"?>\n<rdf:RDF '
    'xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
    'xmlns:ex="http://e/"'
)
_RDF_A = (
    "\ufeff" + _RDF_HEAD + ">\n"
    + "".join(
        f'  <rdf:Description rdf:about="http://e/s{i}"><ex:n>n{i} café</ex:n>'
        f'<ex:hub rdf:nodeID="hub"/></rdf:Description>\n'
        for i in range(5)
    )
    + '  <rdf:Description rdf:about="http://e/pet"><ex:pet><ex:Cat>'
    "<ex:name>Mia</ex:name></ex:Cat></ex:pet></rdf:Description>\n"
    + '  <rdf:Description rdf:nodeID="hub"><ex:name>HUB</ex:name>'
    "</rdf:Description>\n</rdf:RDF>\n"
)
_RDF_B = (
    _RDF_HEAD + ' xml:base="http://base/doc">\r\n'
    + "".join(
        f'  <rdf:Description rdf:ID="r{i}"><ex:next rdf:resource="#r{i + 1}"/>'
        "</rdf:Description>\r\n"
        for i in range(3)
    )
    + "</rdf:RDF>\r\n"
)
_DIFF_DOCS = {
    "ntriples": ("nt", _NT_A, _NT_B),
    "nquads": ("nq", _NQ_A, _NQ_B),
    "turtle": ("ttl", _TTL_A, _TTL_B),
    "n3": ("n3", _TTL_A, _TTL_B),
    "rdfxml": ("rdf", _RDF_A, _RDF_B),
}


@pytest.mark.parametrize("codec", ["", ".gz"])
@pytest.mark.parametrize("syntax", sorted(_DIFF_DOCS))
def test_load_distributed_matches_load_into(
    spark, tmp_path, monkeypatch, syntax, codec
):
    """The distributed reader of every syntax, plain and gzipped, loads
    the same quads and quoted-triple mappings as the driver parser: {| |}
    annotations and << >> terms, N-Quads graphs, a BOM, CRLF, two files
    binding one prefix label to different IRIs, and blank nodes
    referenced from several chunks (2 statements or elements per chunk,
    64-byte scan windows).  Blank-node labels differ between the paths
    (the distributed ones are salted per file and chunk), so quads
    compare label-insensitively; anonymous nodes sit in one file only,
    because the driver parser scopes labels per file, not per load."""
    import gzip

    from kolibrie_spark.store import QuadStore

    ext, doc_a, doc_b = _DIFF_DOCS[syntax]
    d = tmp_path / "corpus"
    d.mkdir()
    for name, doc in (("a", doc_a), ("b", doc_b)):
        raw = doc.encode("utf-8")
        (d / f"{name}.{ext}{codec}").write_bytes(
            gzip.compress(raw) if codec else raw
        )
    monkeypatch.setattr(R, "STATEMENTS_PER_CHUNK", 2)
    monkeypatch.setattr(R, "ELEMENTS_PER_CHUNK", 2)
    monkeypatch.setattr(R, "SCAN_WINDOW_BYTES", 64)

    drv = QuadStore(spark)
    n_drv = R.load_into(drv, str(d))
    dist = QuadStore(spark)
    n_dist = dist.load_distributed(str(d))

    def quads(store):
        return _canon_bnodes(
            [(s, p, o, g or "") for s, p, o, g in store.quads.collect()]
        )

    assert n_dist == n_drv > 0
    assert quads(dist) == quads(drv)
    want_quoted = sorted(map(tuple, drv.quoted.collect()))
    assert sorted(map(tuple, dist.quoted.collect())) == want_quoted
    if syntax != "rdfxml":
        assert want_quoted  # RDF-star mappings exercised
    if syntax == "nquads":
        graphs = {r.g for r in dist.named_graph_names().collect()}
        assert graphs == {"http://e/g1", "http://e/g2", "http://e/g3"}
