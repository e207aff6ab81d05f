"""crawlspark — a from-scratch PySpark-native URL-frontier + fetch-scheduler
engine with the query/data-processing capabilities of the reference harvester
``gfbio/vat-abcd-crawler`` (see /root/reference, cited per-module as file:line).

Architecture (Spark-first, not a port):

* ``session``     — SparkSession factory (AQE, Arrow, non-ANSI try-cast semantics)
* ``schemas``     — pages/frontier/robots/seen/metrics StructTypes (input_hint shape)
* ``settings``    — layered TOML configuration (reference: src/settings.rs:73-86)
* ``fields``      — extraction field spec + sha1 column naming
                    (reference: src/abcd/abcd_fields.rs, src/storage/field.rs)
* ``rustcompat``  — Rust f64 parse/Display parity (reference: src/vat_type.rs:35-42)
* ``canonical``   — RFC-3986 URL canonicalization, pure Spark SQL expressions;
                    outlink / anchor-text extraction, crawl-trap signals
* ``synth``       — deterministic synthetic pages/frontier/robots generator
* ``extract``     — THE one pandas-UDF family: ZIP explode + streaming XML parse
                    (reference: src/abcd/archive_reader.rs + src/abcd/abcd_parser.rs)
* ``warehouse``   — atomic snapshot commits + resume (Iceberg-equivalent semantics;
                    reference: src/storage/database_sink.rs:258-284 temp→final swap)
* ``seen``        — distributed URL-seen set: Bloom / cuckoo prefilter + exact
                    anti-join, dense first-seen surrogate keys via one ranker,
                    ``rank_and_key`` (src/storage/surrogate_key.rs)
* ``scheduler``   — the crawl round loop: politeness budgets, robots, fetch join,
                    retry/recovery, counters (reference: src/main.rs:141-275)
* ``robots``      — robots.txt bodies → enforced rules + Sitemap: directives
* ``sitemap``     — sitemaps.org urlset / sitemapindex ingestion → frontier rows
* ``warc``        — WARC/1.0 archive ingestion → records + the PAGES load edge
* ``hostrank``    — fixed-point host-graph PageRank → frontier priority tiers
* ``freshness``   — change-rate estimation → recrawl tiers (feeds ``Crawler.evict``)
* ``report``      — metrics digest render of the per-round counters
* ``listing``     — dataset_listing semi-join view (src/storage/database_sink.rs:492-558)
* ``csvsink``     — --file-to-csv parity surface (src/main.rs:54-115)
* ``gpkg``        — GeoPackage export (csv-to-gpkg.sh parity)

Everything is DataFrame-API; RDDs are never used; Python touches data only
through Arrow-vectorized pandas UDFs: the ``extract`` and ``warc`` byte walks,
the per-bucket seen-filter cogroups in ``seen`` and bench-scale ``synth``
generation.
"""

__version__ = "0.1.0"
