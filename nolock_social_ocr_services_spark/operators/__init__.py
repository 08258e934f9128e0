from .classify import classify_mime, decode_data_url_prefix  # noqa: F401
from .reassemble import reassemble_spans  # noqa: F401
from .salt import salted_repartition  # noqa: F401
