from pyspark.sql import functions as F

from sheep_spark import corpus, extract, graph


def test_extract_text_pinned_golden():
    html = (
        b"<html><head><title>t</title><script>var x=1;</script>"
        b"<style>p{}</style></head><body><h1>Head</h1>"
        b"<p>hello &amp; world</p><!-- c --><a href='x'>link</a></body></html>"
    )
    assert extract.extract_text_bytes(html) == "t Head hello & world link"


def test_normalize_url():
    f = extract.normalize_url
    assert f("HTTPS://Site1.Example/p/3#frag") == "https://site1.example/p/3"
    assert f("http://a.example:80/x/") == "http://a.example/x"
    assert f("https://a.example:443/") == "https://a.example"
    assert f("https://a.example") == "https://a.example"


def test_extract_hrefs_order_and_dups():
    html = b'<a href="http://A.example/1">x</a><a href="http://a.example/2#f">y</a><a href="http://a.example/1">z</a>'
    assert extract.extract_hrefs(html) == [
        "http://a.example/1",
        "http://a.example/2",
        "http://a.example/1",
    ]


def test_corpus_byte_identical_text(spark):
    """input_hint invariant: engine extraction of html == stored text,
    byte for byte, for every page."""
    pages = corpus.generate_pages(spark, 300, seed=42)
    checked = extract.with_extracted_text(pages)
    bad = checked.where(F.col("text") != F.col("extracted_text")).count()
    assert bad == 0
    assert checked.count() == 300


def test_corpus_deterministic(spark):
    a = corpus.generate_pages(spark, 100, seed=7, n_partitions=2)
    b = corpus.generate_pages(spark, 100, seed=7, n_partitions=8)
    ra = sorted((r.url, bytes(r.html), r.text, r.lang) for r in a.collect())
    rb = sorted((r.url, bytes(r.html), r.text, r.lang) for r in b.collect())
    assert ra == rb


def test_pages_to_graph_pipeline(spark):
    """pages → href edges → vids → symmetrized graph with hubs (Zipf)."""
    pages = corpus.generate_pages(spark, 400, seed=42)
    edges, ids = extract.edges_from_pages(pages)
    verts = graph.vertices_from_edges(edges)
    n_urls = ids.count()
    assert n_urls > 0
    degs = sorted(r.degree for r in verts.collect())
    assert degs[-1] > 10 * degs[len(degs) // 2]  # hub exists (zipf 1.3)
    assert edges.where(F.col("src") == F.col("dst")).count() == 0


def test_mint_vertex_ids_driver_and_distributed_agree(spark, monkeypatch):
    """The driver url sort (small-V funnel) and attach_rank's distributed
    rank must mint the same url → vid map, non-ASCII urls included
    (python code-point order == Spark's UTF-8 byte order)."""
    urls = [f"http://h{i % 7}.example/{'é' if i % 3 else 'z'}{i}" for i in range(60)]
    rows = [(urls[i], urls[(i * 11 + 5) % 60]) for i in range(60)] + [(urls[0], "http://ü.example/")]
    raw = spark.createDataFrame(rows, extract.EDGES_RAW_SCHEMA)
    driver = sorted(map(tuple, extract.mint_vertex_ids(raw).collect()))
    monkeypatch.setattr(graph, "DRIVER_RANK_MAX", 0)  # every input is above the cap
    distributed = sorted(map(tuple, extract.mint_vertex_ids(raw).collect()))
    assert distributed == driver
    assert [v for _u, v in driver] == list(range(61))


def test_sheep_beats_naive_on_zipf_pages_graph(spark):
    """The hub-skewed corpus graph is where degree-ordered partitioning
    earns its keep: sheep's tree partition must beat naive pos-chunks on
    ECV(down)."""
    from sheep_spark import evaluate, partitioner, tree

    pages = corpus.generate_pages(spark, 600, seed=42)
    edges, _ids = extract.edges_from_pages(pages)
    edges = edges.persist()
    verts = graph.vertices_from_edges(edges).persist()
    n = verts.count()
    t = tree.build_tree(graph.edges_pos(edges, verts), n)
    m_sheep = evaluate.evaluate(
        edges, partitioner.vertex_meta(verts, partitioner.sheep_partition(t, verts, 4))
    )
    m_naive = evaluate.evaluate(
        edges, partitioner.vertex_meta(verts, partitioner.naive_partition(verts, 4))
    )
    assert m_sheep["ecv_down"] < m_naive["ecv_down"]
    assert m_sheep["down_balance"] <= int((m_sheep["n_edges"] // 4) * 1.03)
