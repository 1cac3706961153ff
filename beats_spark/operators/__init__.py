"""Pipeline operators: field actions, processor-chain compiler,
enrichment joins, output selector/router, manifest,
dedup/similarity operators."""
