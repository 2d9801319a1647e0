"""Column-expression function library (JVM-side, codegen-friendly).

Submodules:
- ``paths``   — the reference's name/path projections (P1-P6) as Columns
- ``text``    — tokenization, language-ID scoring, quality metrics
- ``vectors`` — dot / norm / cosine / int8 / L2² as Spark SQL text
"""
