"""Extraction layers: html boilerplate strip (``html``), synthetic OCR
(``ocr``) and typed records (``records``)."""
