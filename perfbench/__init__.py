"""End-to-end benchmark of the wellmeet pipelines and curation queries.

Run `python3 perfbench/run.py --help` from the repository root; the
workloads, metrics and layer predictions are described in
`perfbench/README.md`.
"""
