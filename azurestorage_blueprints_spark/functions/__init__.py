"""Expression library (JVM-side, codegen-friendly).

Submodules:
- ``paths``   — the reference's name/path projections (P1-P6) as Columns
- ``text``    — tokenizer, char fold, language ID, quality metrics as Spark SQL text
- ``vectors`` — dot / norm / cosine / int8 / L2² as Spark SQL text
"""
