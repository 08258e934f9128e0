"""DataFrame stages: MIME classification (``classify``), salted
repartition (``salt``) and span reassembly (``reassemble``), plus the
catalog's ``temporal``, ``grouped`` and ``layout`` operators."""
