"""Expected operator calls for every ``pipeline.`<name>``` table function.

Recorded once from the if-chain that ``sqlfront.PIPELINE`` replaced, by
calling it with every operator stubbed out: for each function, the
options (``options``), the subset it requires (``need``), and the calls
it made with only the required options (``required``) and with every
option set (``all``). Each call is ``("<module>.<function>", arguments)``
with the arguments bound to the real operator's signature and its
defaults applied. Tables appear as ``("table", <name>)``, stubbed
results as ``("result", "<module>.<function>")`` and ``F.expr`` as
``("expr", <sql>)``.
"""

EXPECTED = {
    'bm25': {
        'need': ['input', 'query'],
        'options': {'id': 'id_v', 'input': 'input_v', 'k': '11', 'query': 'red fox',
                    'text': 'text_v'},
        'required': [
            ('search.bm25_topk', {'df': ('table', 'input_v'), 'query_terms': ['red', 'fox'],
                                 'k': 10, 'k1': 1.2, 'b': 0.75, 'id_col': 'doc_id',
                                 'text_col': 'text', 'postings': None}),
        ],
        'all': [
            ('search.bm25_topk', {'df': ('table', 'input_v'), 'query_terms': ['red', 'fox'],
                                 'k': 11, 'k1': 1.2, 'b': 0.75, 'id_col': 'id_v',
                                 'text_col': 'text_v', 'postings': None}),
        ],
    },
    'bm25_batch': {
        'need': ['input', 'queries'],
        'options': {'id': 'id_v', 'input': 'input_v', 'k': '11', 'queries': 'queries_v',
                    'text': 'text_v'},
        'required': [
            ('search.bm25_topk_batch', {'df': ('table', 'input_v'),
                                       'queries': ('table', 'queries_v'), 'k': 10,
                                       'k1': 1.2, 'b': 0.75, 'id_col': 'doc_id',
                                       'text_col': 'text', 'query_id_col': 'query_id',
                                       'terms_col': 'terms', 'postings': None}),
        ],
        'all': [
            ('search.bm25_topk_batch', {'df': ('table', 'input_v'),
                                       'queries': ('table', 'queries_v'), 'k': 11,
                                       'k1': 1.2, 'b': 0.75, 'id_col': 'id_v',
                                       'text_col': 'text_v', 'query_id_col': 'query_id',
                                       'terms_col': 'terms', 'postings': None}),
        ],
    },
    'brier_score': {
        'need': ['input', 'label', 'score'],
        'options': {'decimals': '32', 'input': 'input_v', 'label': 'label_v',
                    'score': 'score_v'},
        'required': [
            ('mlmetrics.brier_score', {'df': ('table', 'input_v'), 'label_col': 'label_v',
                                      'score_col': 'score_v', 'score_decimals': 6}),
        ],
        'all': [
            ('mlmetrics.brier_score', {'df': ('table', 'input_v'), 'label_col': 'label_v',
                                      'score_col': 'score_v', 'score_decimals': 32}),
        ],
    },
    'c4_clean': {
        'need': ['input'],
        'options': {'badwords': 'foo,bar', 'id': 'id_v', 'input': 'input_v',
                    'min_sentences': '20', 'min_words': '19', 'text': 'text_v'},
        'required': [
            ('text.c4_clean', {'df': ('table', 'input_v'), 'id_col': 'doc_id',
                              'text_col': 'text', 'min_words_per_line': 5,
                              'min_sentences': 3, 'badwords': ()}),
        ],
        'all': [
            ('text.c4_clean', {'df': ('table', 'input_v'), 'id_col': 'id_v',
                              'text_col': 'text_v', 'min_words_per_line': 19,
                              'min_sentences': 20, 'badwords': ('foo', 'bar')}),
        ],
    },
    'calibration_bins': {
        'need': ['input', 'label', 'score'],
        'options': {'bins': '33', 'decimals': '32', 'input': 'input_v', 'label': 'label_v',
                    'score': 'score_v'},
        'required': [
            ('mlmetrics.calibration_bins', {'df': ('table', 'input_v'),
                                           'label_col': 'label_v', 'score_col': 'score_v',
                                           'n_bins': 10, 'score_decimals': 6}),
        ],
        'all': [
            ('mlmetrics.calibration_bins', {'df': ('table', 'input_v'),
                                           'label_col': 'label_v', 'score_col': 'score_v',
                                           'n_bins': 33, 'score_decimals': 32}),
        ],
    },
    'chat_render': {
        'need': ['input'],
        'options': {'id': 'id_v', 'input': 'input_v', 'turns': 'turns_v'},
        'required': [
            ('chat.render_chat', {'df': ('table', 'input_v'), 'id_col': 'conv_id',
                                 'conv_col': 'turns'}),
        ],
        'all': [
            ('chat.render_chat', {'df': ('table', 'input_v'), 'id_col': 'id_v',
                                 'conv_col': 'turns_v'}),
        ],
    },
    'chat_validate': {
        'need': ['input'],
        'options': {'id': 'id_v', 'input': 'input_v', 'turns': 'turns_v'},
        'required': [
            ('chat.validate_conversations', {'df': ('table', 'input_v'), 'id_col': 'conv_id',
                                            'conv_col': 'turns'}),
        ],
        'all': [
            ('chat.validate_conversations', {'df': ('table', 'input_v'), 'id_col': 'id_v',
                                            'conv_col': 'turns_v'}),
        ],
    },
    'chunk_tokens': {
        'need': ['input'],
        'options': {'id': 'id_v', 'input': 'input_v', 'max_tokens': '43', 'stride': '44',
                    'text': 'text_v'},
        'required': [
            ('pipeline.chunk_tokens', {'df': ('table', 'input_v'), 'id_col': 'doc_id',
                                      'text_col': 'text', 'max_tokens': 32, 'stride': None}),
        ],
        'all': [
            ('pipeline.chunk_tokens', {'df': ('table', 'input_v'), 'id_col': 'id_v',
                                      'text_col': 'text_v', 'max_tokens': 43, 'stride': 44}),
        ],
    },
    'classify_lang': {
        'need': ['input'],
        'options': {'distance': 'true', 'input': 'input_v', 'out': 'out_v',
                    'text': 'text_v'},
        'required': [
            ('langid.classify_lang', {'df': ('table', 'input_v'), 'text_col': 'text',
                                     'out_col': 'pred_lang', 'k': 80,
                                     'keep_distance': False}),
        ],
        'all': [
            ('langid.classify_lang', {'df': ('table', 'input_v'), 'text_col': 'text_v',
                                     'out_col': 'out_v', 'k': 80, 'keep_distance': True}),
        ],
    },
    'cms_estimate': {
        'need': ['col', 'input', 'probes'],
        'options': {'col': 'col_v', 'depth': '37', 'input': 'input_v', 'probes': 'probes_v',
                    'width': '36'},
        'required': [
            ('sketch.cms_build', {'df': ('table', 'input_v'), 'col': 'col_v', 'width': 1024,
                                 'depth': 4}),
            ('sketch.cms_estimate', {'sketch': ('result', 'sketch.cms_build'),
                                    'probes': ('table', 'probes_v'), 'col': 'col_v',
                                    'width': 1024, 'depth': 4}),
        ],
        'all': [
            ('sketch.cms_build', {'df': ('table', 'input_v'), 'col': 'col_v', 'width': 36,
                                 'depth': 37}),
            ('sketch.cms_estimate', {'sketch': ('result', 'sketch.cms_build'),
                                    'probes': ('table', 'probes_v'), 'col': 'col_v',
                                    'width': 36, 'depth': 37}),
        ],
    },
    'containment_join': {
        'need': ['corpus', 'probe'],
        'options': {'corpus': 'corpus_v', 'id': 'id_v', 'ngram': '41', 'probe': 'probe_v',
                    'probe_id': 'probe_id_v', 'probe_text': 'probe_text_v',
                    'text': 'text_v', 'threshold': '31'},
        'required': [
            ('fuzzy.containment_join', {'probe': ('table', 'probe_v'),
                                       'corpus': ('table', 'corpus_v'), 'probe_id': 'qid',
                                       'probe_text': 'qtext', 'corpus_id': 'doc_id',
                                       'corpus_text': 'text', 'threshold': 0.8,
                                       'ngram': None}),
        ],
        'all': [
            ('fuzzy.containment_join', {'probe': ('table', 'probe_v'),
                                       'corpus': ('table', 'corpus_v'),
                                       'probe_id': 'probe_id_v',
                                       'probe_text': 'probe_text_v', 'corpus_id': 'id_v',
                                       'corpus_text': 'text_v', 'threshold': 31.0,
                                       'ngram': 41}),
        ],
    },
    'corpus_report': {
        'need': ['input'],
        'options': {'id': 'id_v', 'input': 'input_v', 'lang': 'lang_v',
                    'strata': 'strata_v', 'text': 'text_v'},
        'required': [
            ('text.corpus_report', {'df': ('table', 'input_v'), 'id_col': 'doc_id',
                                   'text_col': 'text', 'strata_col': 'source',
                                   'lang_col': 'lang'}),
        ],
        'all': [
            ('text.corpus_report', {'df': ('table', 'input_v'), 'id_col': 'id_v',
                                   'text_col': 'text_v', 'strata_col': 'strata_v',
                                   'lang_col': 'lang_v'}),
        ],
    },
    'crossmodal_align': {
        'need': ['captions', 'images'],
        'options': {'captions': 'captions_v', 'id': 'id_v', 'images': 'images_v',
                    'threshold': '31'},
        'required': [
            ('crossmodal.alignment_filter', {'images': ('table', 'images_v'),
                                            'captions': ('table', 'captions_v'),
                                            'id_col': 'doc_id', 'threshold': 0.28,
                                            'dim': 32, 'image_embeddings': None,
                                            'caption_embeddings': None}),
        ],
        'all': [
            ('crossmodal.alignment_filter', {'images': ('table', 'images_v'),
                                            'captions': ('table', 'captions_v'),
                                            'id_col': 'id_v', 'threshold': 31.0, 'dim': 32,
                                            'image_embeddings': None,
                                            'caption_embeddings': None}),
        ],
    },
    'crossmodal_topk': {
        'need': ['captions', 'images'],
        'options': {'captions': 'captions_v', 'id': 'id_v', 'images': 'images_v', 'k': '11',
                    'payload': 'payload_v', 'text': 'text_v'},
        'required': [
            ('crossmodal.embed_images', {'df': ('table', 'images_v'), 'id_col': 'doc_id',
                                        'payload_col': 'payload', 'dim': 32,
                                        'encoder': None}),
            ('crossmodal.embed_captions', {'df': ('table', 'captions_v'), 'id_col': 'doc_id',
                                          'text_col': 'text', 'dim': 32, 'encoder': None}),
            ('crossmodal.crossmodal_topk', {'candidates': ('result', 'crossmodal.embed_images'),
                                           'queries': ('result', 'crossmodal.embed_captions'),
                                           'id_col': 'doc_id', 'k': 3}),
        ],
        'all': [
            ('crossmodal.embed_images', {'df': ('table', 'images_v'), 'id_col': 'id_v',
                                        'payload_col': 'payload_v', 'dim': 32,
                                        'encoder': None}),
            ('crossmodal.embed_captions', {'df': ('table', 'captions_v'), 'id_col': 'id_v',
                                          'text_col': 'text_v', 'dim': 32, 'encoder': None}),
            ('crossmodal.crossmodal_topk', {'candidates': ('result', 'crossmodal.embed_images'),
                                           'queries': ('result', 'crossmodal.embed_captions'),
                                           'id_col': 'id_v', 'k': 11}),
        ],
    },
    'curation_audit': {
        'need': ['benchmark', 'corpus', 'weights'],
        'options': {'benchmark': 'benchmark_v', 'budget': '30', 'corpus': 'corpus_v',
                    'id': 'id_v', 'max_word_len': '46', 'min_words': '19',
                    'source': 'source_v', 'text': 'text_v', 'weights': 'web:0.7,books:0.3'},
        'required': [
            ('pipeline.curation_audit', {'df': ('table', 'corpus_v'),
                                        'benchmark': ('table', 'benchmark_v'),
                                        'id_col': 'doc_id', 'text_col': 'text',
                                        'source_col': 'source',
                                        'weights': {'web': 0.7, 'books': 0.3},
                                        'token_budget': 1000000, 'min_words': 5,
                                        'max_word_len': 20.0}),
        ],
        'all': [
            ('pipeline.curation_audit', {'df': ('table', 'corpus_v'),
                                        'benchmark': ('table', 'benchmark_v'),
                                        'id_col': 'id_v', 'text_col': 'text_v',
                                        'source_col': 'source_v',
                                        'weights': {'web': 0.7, 'books': 0.3},
                                        'token_budget': 30, 'min_words': 19,
                                        'max_word_len': 46.0}),
        ],
    },
    'dedup_exact': {
        'need': ['input'],
        'options': {'id': 'id_v', 'input': 'input_v', 'text': 'text_v'},
        'required': [
            ('dedup.exact_dedup', {'df': ('table', 'input_v'), 'id_col': 'doc_id',
                                  'text_col': 'text'}),
        ],
        'all': [
            ('dedup.exact_dedup', {'df': ('table', 'input_v'), 'id_col': 'id_v',
                                  'text_col': 'text_v'}),
        ],
    },
    'domain_stats': {
        'need': ['input'],
        'options': {'blocklist': 'a.com,b.com', 'input': 'input_v', 'text': 'text_v',
                    'url': 'url_v'},
        'required': [
            ('text.domain_stats', {'df': ('table', 'input_v'), 'text_col': 'text',
                                  'url_col': 'url', 'blocklist': ()}),
        ],
        'all': [
            ('text.domain_stats', {'df': ('table', 'input_v'), 'text_col': 'text_v',
                                  'url_col': 'url_v', 'blocklist': ('a.com', 'b.com')}),
        ],
    },
    'dsir': {
        'need': ['raw', 'target'],
        'options': {'id': 'id_v', 'raw': 'raw_v', 'target': 'target_v', 'text': 'text_v'},
        'required': [
            ('pipeline.dsir_weights', {'corpus': ('table', 'raw_v'),
                                      'target': ('table', 'target_v'), 'id_col': 'doc_id',
                                      'text_col': 'text'}),
        ],
        'all': [
            ('pipeline.dsir_weights', {'corpus': ('table', 'raw_v'),
                                      'target': ('table', 'target_v'), 'id_col': 'id_v',
                                      'text_col': 'text_v'}),
        ],
    },
    'encoding_qa': {
        'need': ['input'],
        'options': {'id': 'id_v', 'input': 'input_v', 'text': 'text_v'},
        'required': [
            ('text.encoding_qa', {'df': ('table', 'input_v'), 'id_col': 'doc_id',
                                 'text_col': 'text'}),
        ],
        'all': [
            ('text.encoding_qa', {'df': ('table', 'input_v'), 'id_col': 'id_v',
                                 'text_col': 'text_v'}),
        ],
    },
    'epoch_shuffle': {
        'need': ['input'],
        'options': {'epoch': '34', 'id': 'id_v', 'input': 'input_v', 'shards': '26'},
        'required': [
            ('pipeline.epoch_shuffle', {'df': ('table', 'input_v'), 'id_col': 'doc_id',
                                       'epoch': None, 'n_shards': 1024,
                                       'keep_columns': False}),
        ],
        'all': [
            ('pipeline.epoch_shuffle', {'df': ('table', 'input_v'), 'id_col': 'id_v',
                                       'epoch': 34, 'n_shards': 26, 'keep_columns': False}),
        ],
    },
    'fixed_k_sample': {
        'need': ['input'],
        'options': {'id': 'id_v', 'input': 'input_v', 'k': '11', 'strata': 'strata_v'},
        'required': [
            ('pipeline.fixed_k_sample', {'df': ('table', 'input_v'), 'strata_col': 'lang',
                                        'id_col': 'doc_id', 'k': 10}),
        ],
        'all': [
            ('pipeline.fixed_k_sample', {'df': ('table', 'input_v'),
                                        'strata_col': 'strata_v', 'id_col': 'id_v', 'k': 11}),
        ],
    },
    'funnel': {
        'need': ['input', 'steps'],
        'options': {'input': 'input_v', 'key': 'key_v', 'steps': 'view,cart,buy',
                    'ts': 'ts_v', 'type': 'type_v', 'within_seconds': '28'},
        'required': [
            ('temporal.funnel', {'df': ('table', 'input_v'), 'ts_col': 'ts',
                                'key_col': 'user_id', 'type_col': 'event_type',
                                'steps': ['view', 'cart', 'buy'], 'within_seconds': None}),
        ],
        'all': [
            ('temporal.funnel', {'df': ('table', 'input_v'), 'ts_col': 'ts_v',
                                'key_col': 'key_v', 'type_col': 'type_v',
                                'steps': ['view', 'cart', 'buy'], 'within_seconds': 28.0}),
        ],
    },
    'fuzzy_join': {
        'need': ['left', 'left_col', 'left_id', 'right', 'right_col', 'right_id'],
        'options': {'left': 'left_v', 'left_col': 'left_col_v', 'left_id': 'left_id_v',
                    'max_df': '16', 'max_dist': '15', 'right': 'right_v',
                    'right_col': 'right_col_v', 'right_id': 'right_id_v'},
        'required': [
            ('fuzzy.fuzzy_join', {'left': ('table', 'left_v'), 'right': ('table', 'right_v'),
                                 'left_id': 'left_id_v', 'left_col': 'left_col_v',
                                 'right_id': 'right_id_v', 'right_col': 'right_col_v',
                                 'max_dist': 2, 'max_df': None}),
        ],
        'all': [
            ('fuzzy.fuzzy_join', {'left': ('table', 'left_v'), 'right': ('table', 'right_v'),
                                 'left_id': 'left_id_v', 'left_col': 'left_col_v',
                                 'right_id': 'right_id_v', 'right_col': 'right_col_v',
                                 'max_dist': 15, 'max_df': 16}),
        ],
    },
    'gap_fill': {
        'need': ['input'],
        'options': {'input': 'input_v', 'key': 'key_v', 'ts': 'ts_v', 'unit': 'day',
                    'val': 'val_v'},
        'required': [
            ('temporal.gap_fill_locf', {'df': ('table', 'input_v'), 'ts_col': 'ts',
                                       'key_col': 'user_id', 'val_col': 'value',
                                       'unit': 'hour'}),
        ],
        'all': [
            ('temporal.gap_fill_locf', {'df': ('table', 'input_v'), 'ts_col': 'ts_v',
                                       'key_col': 'key_v', 'val_col': 'val_v',
                                       'unit': 'day'}),
        ],
    },
    'gopher_quality': {
        'need': ['input'],
        'options': {'id': 'id_v', 'input': 'input_v', 'text': 'text_v'},
        'required': [
            ('text.gopher_quality', {'df': ('table', 'input_v'), 'id_col': 'doc_id',
                                    'text_col': 'text'}),
        ],
        'all': [
            ('text.gopher_quality', {'df': ('table', 'input_v'), 'id_col': 'id_v',
                                    'text_col': 'text_v'}),
        ],
    },
    'gopher_repetition': {
        'need': ['input'],
        'options': {'id': 'id_v', 'input': 'input_v', 'text': 'text_v'},
        'required': [
            ('pipeline.gopher_repetition', {'df': ('table', 'input_v'), 'id_col': 'doc_id',
                                           'text_col': 'text'}),
        ],
        'all': [
            ('pipeline.gopher_repetition', {'df': ('table', 'input_v'), 'id_col': 'id_v',
                                           'text_col': 'text_v'}),
        ],
    },
    'group_split': {
        'need': ['group', 'input'],
        'options': {'group': 'length(text)', 'id': 'id_v', 'input': 'input_v'},
        'required': [
            ('pipeline.group_split', {'df': ('table', 'input_v'),
                                     'group_expr': ('expr', 'length(text)'),
                                     'id_col': 'doc_id', 'bounds': ('e6', 'f3')}),
        ],
        'all': [
            ('pipeline.group_split', {'df': ('table', 'input_v'),
                                     'group_expr': ('expr', 'length(text)'),
                                     'id_col': 'id_v', 'bounds': ('e6', 'f3')}),
        ],
    },
    'heavy_hitters': {
        'need': ['input'],
        'options': {'col': 'col_v', 'input': 'input_v', 'k': '11'},
        'required': [
            ('sketch.heavy_hitters', {'df': ('table', 'input_v'), 'col': 'value', 'k': 50}),
        ],
        'all': [
            ('sketch.heavy_hitters', {'df': ('table', 'input_v'), 'col': 'col_v', 'k': 11}),
        ],
    },
    'html_extract': {
        'need': ['input'],
        'options': {'html': 'html_v', 'input': 'input_v'},
        'required': [
            ('text.html_extract', {'df': ('table', 'input_v'), 'html_col': 'html'}),
        ],
        'all': [
            ('text.html_extract', {'df': ('table', 'input_v'), 'html_col': 'html_v'}),
        ],
    },
    'hybrid_search': {
        'need': ['docs', 'query', 'vec_id', 'vecs'],
        'options': {'docs': 'docs_v', 'k': '11', 'pool': '14', 'query': 'red fox',
                    'vec_id': '13', 'vecs': 'vecs_v'},
        'required': [
            ('search.hybrid_topk', {'docs': ('table', 'docs_v'), 'vecs': ('table', 'vecs_v'),
                                   'query_terms': ['red', 'fox'], 'query_vec_id': 13,
                                   'k': 10, 'pool': 50, 'rrf_k': 60, 'id_col': 'doc_id',
                                   'text_col': 'text', 'vec_id_col': 'vec_id',
                                   'vec_col': 'embedding'}),
        ],
        'all': [
            ('search.hybrid_topk', {'docs': ('table', 'docs_v'), 'vecs': ('table', 'vecs_v'),
                                   'query_terms': ['red', 'fox'], 'query_vec_id': 13,
                                   'k': 11, 'pool': 14, 'rrf_k': 60, 'id_col': 'doc_id',
                                   'text_col': 'text', 'vec_id_col': 'vec_id',
                                   'vec_col': 'embedding'}),
        ],
    },
    'kmv_distinct': {
        'need': ['input', 'item', 'seg'],
        'options': {'input': 'input_v', 'item': 'item_v', 'k': '11', 'seg': 'seg_v'},
        'required': [
            ('sketch.kmv_distinct', {'df': ('table', 'input_v'), 'seg_col': 'seg_v',
                                    'item_col': 'item_v', 'k': 64}),
        ],
        'all': [
            ('sketch.kmv_distinct', {'df': ('table', 'input_v'), 'seg_col': 'seg_v',
                                    'item_col': 'item_v', 'k': 11}),
        ],
    },
    'kmv_overlap': {
        'need': ['a', 'b', 'input', 'item', 'seg'],
        'options': {'a': 'a_v', 'b': 'b_v', 'input': 'input_v', 'item': 'item_v', 'k': '11',
                    'seg': 'seg_v'},
        'required': [
            ('sketch.kmv_overlap', {'df': ('table', 'input_v'), 'seg_col': 'seg_v',
                                   'item_col': 'item_v', 'seg_a': 'a_v', 'seg_b': 'b_v',
                                   'k': 64}),
        ],
        'all': [
            ('sketch.kmv_overlap', {'df': ('table', 'input_v'), 'seg_col': 'seg_v',
                                   'item_col': 'item_v', 'seg_a': 'a_v', 'seg_b': 'b_v',
                                   'k': 11}),
        ],
    },
    'line_dedup': {
        'need': ['input'],
        'options': {'id': 'id_v', 'input': 'input_v', 'max_copies': '17', 'min_chars': '18',
                    'text': 'text_v'},
        'required': [
            ('text.line_dedup', {'df': ('table', 'input_v'), 'id_col': 'doc_id',
                                'text_col': 'text', 'max_copies': 1, 'min_chars': 8}),
        ],
        'all': [
            ('text.line_dedup', {'df': ('table', 'input_v'), 'id_col': 'id_v',
                                'text_col': 'text_v', 'max_copies': 17, 'min_chars': 18}),
        ],
    },
    'luhn_scan': {
        'need': ['input'],
        'options': {'id': 'id_v', 'input': 'input_v', 'text': 'text_v'},
        'required': [
            ('pipeline.luhn_scan', {'df': ('table', 'input_v'), 'id_col': 'doc_id',
                                   'text_col': 'text'}),
        ],
        'all': [
            ('pipeline.luhn_scan', {'df': ('table', 'input_v'), 'id_col': 'id_v',
                                   'text_col': 'text_v'}),
        ],
    },
    'mad_outliers': {
        'need': ['input'],
        'options': {'input': 'input_v', 'k': '11', 'key': 'key_v', 'val': 'val_v'},
        'required': [
            ('scale.mad_outliers', {'df': ('table', 'input_v'), 'key_col': 'user_id',
                                   'val_col': 'value', 'k': 3.0}),
        ],
        'all': [
            ('scale.mad_outliers', {'df': ('table', 'input_v'), 'key_col': 'key_v',
                                   'val_col': 'val_v', 'k': 11.0}),
        ],
    },
    'maxsim': {
        'need': ['input', 'query'],
        'options': {'id': 'id_v', 'input': 'input_v', 'k': '11', 'query': 'red fox',
                    'text': 'text_v'},
        'required': [
            ('search.maxsim_topk', {'df': ('table', 'input_v'),
                                   'query_terms': ['red', 'fox'], 'k': 10, 'dim': 4,
                                   'max_tokens': 32, 'id_col': 'doc_id', 'text_col': 'text'}),
        ],
        'all': [
            ('search.maxsim_topk', {'df': ('table', 'input_v'),
                                   'query_terms': ['red', 'fox'], 'k': 11, 'dim': 4,
                                   'max_tokens': 32, 'id_col': 'id_v', 'text_col': 'text_v'}),
        ],
    },
    'mixture_build': {
        'need': ['input', 'weights'],
        'options': {'budget': '30', 'id': 'id_v', 'input': 'input_v', 'source': 'source_v',
                    'text': 'text_v', 'tokenizer': 'bpe', 'weights': 'web:0.7,books:0.3'},
        'required': [
            ('pipeline.build_mixture', {'df': ('table', 'input_v'), 'source_col': 'source',
                                       'id_col': 'doc_id', 'text_col': 'text',
                                       'weights': {'web': 0.7, 'books': 0.3},
                                       'token_budget': 1000000, 'tokens': None}),
        ],
        'all': [
            ('bpe.bpe_count_column', {'text_col': 'text_v', 'merges': 'FIXED_MERGES_V1'}),
            ('pipeline.build_mixture', {'df': ('table', 'input_v'), 'source_col': 'source_v',
                                       'id_col': 'id_v', 'text_col': 'text_v',
                                       'weights': {'web': 0.7, 'books': 0.3},
                                       'token_budget': 30,
                                       'tokens': ('result', 'bpe.bpe_count_column')}),
        ],
    },
    'normalize_unicode': {
        'need': ['input'],
        'options': {'form': 'NFKC', 'id': 'id_v', 'input': 'input_v', 'text': 'text_v'},
        'required': [
            ('text.normalize_unicode', {'df': ('table', 'input_v'), 'id_col': 'doc_id',
                                       'text_col': 'text', 'form': 'NFC'}),
        ],
        'all': [
            ('text.normalize_unicode', {'df': ('table', 'input_v'), 'id_col': 'id_v',
                                       'text_col': 'text_v', 'form': 'NFKC'}),
        ],
    },
    'pack_bins': {
        'need': ['input'],
        'options': {'capacity': '25', 'ids': 'doc_id,chunk_id,part', 'input': 'input_v',
                    'shards': '26', 'tokens': 'tokens_v'},
        'required': [
            ('pipeline.pack_bins', {'chunks': ('table', 'input_v'),
                                   'id_cols': ('doc_id', 'chunk_id'),
                                   'tokens_col': 'n_tokens', 'capacity': 2048,
                                   'n_shards': 64}),
        ],
        'all': [
            ('pipeline.pack_bins', {'chunks': ('table', 'input_v'),
                                   'id_cols': ('doc_id', 'chunk_id', 'part'),
                                   'tokens_col': 'tokens_v', 'capacity': 25, 'n_shards': 26}),
        ],
    },
    'pagerank': {
        'need': ['input'],
        'options': {'damping': '21', 'dst': 'dst_v', 'input': 'input_v', 'iterations': '22',
                    'src': 'src_v'},
        'required': [
            ('graph.pagerank', {'edges': ('table', 'input_v'), 'src': 'src', 'dst': 'dst',
                               'damping': 0.85, 'iterations': 10, 'checkpoint_every': 4}),
        ],
        'all': [
            ('graph.pagerank', {'edges': ('table', 'input_v'), 'src': 'src_v',
                               'dst': 'dst_v', 'damping': 21.0, 'iterations': 22,
                               'checkpoint_every': 4}),
        ],
    },
    'preference_pairs': {
        'need': ['input'],
        'options': {'input': 'input_v', 'prompt': 'prompt_v', 'response': 'response_v',
                    'score': 'score_v'},
        'required': [
            ('chat.preference_pairs', {'df': ('table', 'input_v'), 'prompt_col': 'prompt_id',
                                      'response_col': 'response', 'score_col': 'score'}),
        ],
        'all': [
            ('chat.preference_pairs', {'df': ('table', 'input_v'), 'prompt_col': 'prompt_v',
                                      'response_col': 'response_v', 'score_col': 'score_v'}),
        ],
    },
    'quality_auc': {
        'need': ['input', 'label', 'score'],
        'options': {'decimals': '32', 'input': 'input_v', 'label': 'label_v',
                    'score': 'score_v'},
        'required': [
            ('mlmetrics.binary_auc', {'df': ('table', 'input_v'), 'label_col': 'label_v',
                                     'score_col': 'score_v', 'score_decimals': 6}),
        ],
        'all': [
            ('mlmetrics.binary_auc', {'df': ('table', 'input_v'), 'label_col': 'label_v',
                                     'score_col': 'score_v', 'score_decimals': 32}),
        ],
    },
    'readability': {
        'need': ['input'],
        'options': {'id': 'id_v', 'input': 'input_v', 'text': 'text_v'},
        'required': [
            ('text.readability', {'df': ('table', 'input_v'), 'id_col': 'doc_id',
                                 'text_col': 'text'}),
        ],
        'all': [
            ('text.readability', {'df': ('table', 'input_v'), 'id_col': 'id_v',
                                 'text_col': 'text_v'}),
        ],
    },
    'retention': {
        'need': ['input'],
        'options': {'input': 'input_v', 'key': 'key_v', 'ts': 'ts_v', 'unit': 'day'},
        'required': [
            ('temporal.retention', {'df': ('table', 'input_v'), 'ts_col': 'ts',
                                   'key_col': 'user_id', 'unit': 'week'}),
        ],
        'all': [
            ('temporal.retention', {'df': ('table', 'input_v'), 'ts_col': 'ts_v',
                                   'key_col': 'key_v', 'unit': 'day'}),
        ],
    },
    'robots_filter': {
        'need': ['input', 'rules'],
        'options': {'agent': 'agent_v', 'domain': 'domain_v', 'input': 'input_v',
                    'robots': 'robots_v', 'rules': 'rules_v', 'rules_are_text': 'true',
                    'url': 'url_v'},
        'required': [
            ('crawlpolicy.robots_filter', {'urls': ('table', 'input_v'),
                                          'rules': ('table', 'rules_v'), 'url_col': 'url'}),
        ],
        'all': [
            ('crawlpolicy.parse_robots', {'df': ('table', 'rules_v'), 'text_col': 'robots_v',
                                         'domain_col': 'domain_v', 'agent': 'agent_v'}),
            ('crawlpolicy.robots_filter', {'urls': ('table', 'input_v'),
                                          'rules': ('result', 'crawlpolicy.parse_robots'),
                                          'url_col': 'url_v'}),
        ],
    },
    'rolling_distinct': {
        'need': ['input', 'item'],
        'options': {'days': '35', 'input': 'input_v', 'item': 'item_v', 'k': '11',
                    'ts': 'ts_v'},
        'required': [
            ('sketch.kmv_rolling_distinct', {'df': ('table', 'input_v'), 'time_col': 'ts',
                                            'item_col': 'item_v', 'k': 64, 'n_days': 7}),
        ],
        'all': [
            ('sketch.kmv_rolling_distinct', {'df': ('table', 'input_v'), 'time_col': 'ts_v',
                                            'item_col': 'item_v', 'k': 11, 'n_days': 35}),
        ],
    },
    'rolling_quantiles': {
        'need': ['hi', 'input', 'val'],
        'options': {'bins': '33', 'days': '35', 'hi': '39', 'input': 'input_v', 'lo': '38',
                    'ts': 'ts_v', 'val': 'val_v'},
        'required': [
            ('sketch.rolling_quantiles', {'df': ('table', 'input_v'), 'time_col': 'ts',
                                         'val_col': 'val_v', 'lo': 0.0, 'hi': 39.0,
                                         'n_bins': 128, 'n_days': 7,
                                         'quantiles': (0.5, 0.95)}),
        ],
        'all': [
            ('sketch.rolling_quantiles', {'df': ('table', 'input_v'), 'time_col': 'ts_v',
                                         'val_col': 'val_v', 'lo': 38.0, 'hi': 39.0,
                                         'n_bins': 33, 'n_days': 35,
                                         'quantiles': (0.5, 0.95)}),
        ],
    },
    'script_profile': {
        'need': ['input'],
        'options': {'id': 'id_v', 'input': 'input_v', 'text': 'text_v'},
        'required': [
            ('text.script_profile', {'df': ('table', 'input_v'), 'id_col': 'doc_id',
                                    'text_col': 'text'}),
        ],
        'all': [
            ('text.script_profile', {'df': ('table', 'input_v'), 'id_col': 'id_v',
                                    'text_col': 'text_v'}),
        ],
    },
    'sessionize': {
        'need': ['input'],
        'options': {'gap_seconds': '27', 'input': 'input_v', 'key': 'key_v',
                    'order': 'order_v', 'ts': 'ts_v'},
        'required': [
            ('temporal.sessionize', {'df': ('table', 'input_v'), 'ts_col': 'ts',
                                    'key_col': 'user_id', 'gap_seconds': 1800.0,
                                    'order_col': None}),
        ],
        'all': [
            ('temporal.sessionize', {'df': ('table', 'input_v'), 'ts_col': 'ts_v',
                                    'key_col': 'key_v', 'gap_seconds': 27.0,
                                    'order_col': 'order_v'}),
        ],
    },
    'setsim_join': {
        'need': ['input'],
        'options': {'id': 'id_v', 'input': 'input_v', 'ngram': '41', 'text': 'text_v',
                    'threshold': '31'},
        'required': [
            ('fuzzy.setsim_join', {'df': ('table', 'input_v'), 'id_col': 'doc_id',
                                  'text_col': 'text', 'threshold': 0.7, 'ngram': None}),
        ],
        'all': [
            ('fuzzy.setsim_join', {'df': ('table', 'input_v'), 'id_col': 'id_v',
                                  'text_col': 'text_v', 'threshold': 31.0, 'ngram': 41}),
        ],
    },
    'setsim_tables': {
        'need': ['left', 'right'],
        'options': {'left': 'left_v', 'left_id': 'left_id_v', 'left_text': 'left_text_v',
                    'ngram': '41', 'right': 'right_v', 'right_id': 'right_id_v',
                    'right_text': 'right_text_v', 'threshold': '31'},
        'required': [
            ('fuzzy.setsim_join_tables', {'left': ('table', 'left_v'),
                                         'right': ('table', 'right_v'), 'left_id': 'id_a',
                                         'left_text': 'text_a', 'right_id': 'id_b',
                                         'right_text': 'text_b', 'threshold': 0.7,
                                         'ngram': None}),
        ],
        'all': [
            ('fuzzy.setsim_join_tables', {'left': ('table', 'left_v'),
                                         'right': ('table', 'right_v'),
                                         'left_id': 'left_id_v', 'left_text': 'left_text_v',
                                         'right_id': 'right_id_v',
                                         'right_text': 'right_text_v', 'threshold': 31.0,
                                         'ngram': 41}),
        ],
    },
    'skew_join': {
        'need': ['hot', 'on', 'small'],
        'options': {'hot': 'hot_v', 'how': 'left', 'on': 'k1,k2', 'salt': '40',
                    'small': 'small_v', 'threshold': '31'},
        'required': [
            ('scale.auto_skew_join', {'hot': ('table', 'hot_v'),
                                     'small': ('table', 'small_v'), 'on': ['k1', 'k2'],
                                     'how': 'inner', 'skew_threshold': 4.0, 'salt': 16}),
        ],
        'all': [
            ('scale.auto_skew_join', {'hot': ('table', 'hot_v'),
                                     'small': ('table', 'small_v'), 'on': ['k1', 'k2'],
                                     'how': 'left', 'skew_threshold': 31.0, 'salt': 40}),
        ],
    },
    'skew_profile': {
        'need': ['input', 'key'],
        'options': {'input': 'input_v', 'key': 'key_v', 'top': '47'},
        'required': [
            ('scale.skew_profile', {'df': ('table', 'input_v'), 'key_col': 'key_v', 'top': 5}),
        ],
        'all': [
            ('scale.skew_profile', {'df': ('table', 'input_v'), 'key_col': 'key_v',
                                   'top': 47}),
        ],
    },
    'snapshot_diff': {
        'need': ['new', 'old'],
        'options': {'id': 'id_v', 'new': 'new_v', 'old': 'old_v', 'text': 'text_v'},
        'required': [
            ('dedup.snapshot_diff', {'old': ('table', 'old_v'), 'new': ('table', 'new_v'),
                                    'id_col': 'doc_id', 'text_col': 'text'}),
        ],
        'all': [
            ('dedup.snapshot_diff', {'old': ('table', 'old_v'), 'new': ('table', 'new_v'),
                                    'id_col': 'id_v', 'text_col': 'text_v'}),
        ],
    },
    'source_diversity': {
        'need': ['input'],
        'options': {'group': 'length(text)', 'input': 'input_v', 'n': '45',
                    'text': 'text_v'},
        'required': [
            ('text.source_diversity', {'df': ('table', 'input_v'), 'group_col': 'source',
                                      'text_col': 'text', 'n': 3}),
        ],
        'all': [
            ('text.source_diversity', {'df': ('table', 'input_v'),
                                      'group_col': 'length(text)', 'text_col': 'text_v',
                                      'n': 45}),
        ],
    },
    'stratified_weighted_sample': {
        'need': ['input', 'strata', 'weight'],
        'options': {'id': 'id_v', 'input': 'input_v', 'k': '11', 'strata': 'strata_v',
                    'weight': 'weight_v'},
        'required': [
            ('pipeline.stratified_weighted_sample', {'df': ('table', 'input_v'),
                                                    'id_col': 'doc_id',
                                                    'weight_col': 'weight_v', 'k': 10,
                                                    'strata_col': 'strata_v'}),
        ],
        'all': [
            ('pipeline.stratified_weighted_sample', {'df': ('table', 'input_v'),
                                                    'id_col': 'id_v',
                                                    'weight_col': 'weight_v', 'k': 11,
                                                    'strata_col': 'strata_v'}),
        ],
    },
    'substr_contam_report': {
        'need': ['benchmark', 'corpus'],
        'options': {'bench_id': 'bench_id_v', 'bench_text': 'bench_text_v',
                    'benchmark': 'benchmark_v', 'corpus': 'corpus_v', 'id': 'id_v',
                    'min_tokens': '42', 'text': 'text_v'},
        'required': [
            ('substr.substr_contamination_report', {'probe': ('table', 'benchmark_v'),
                                                   'corpus': ('table', 'corpus_v'),
                                                   'probe_id': 'bench_id',
                                                   'probe_text': 'text',
                                                   'corpus_id': 'doc_id',
                                                   'corpus_text': 'text', 'min_tokens': 8}),
        ],
        'all': [
            ('substr.substr_contamination_report', {'probe': ('table', 'benchmark_v'),
                                                   'corpus': ('table', 'corpus_v'),
                                                   'probe_id': 'bench_id_v',
                                                   'probe_text': 'bench_text_v',
                                                   'corpus_id': 'id_v',
                                                   'corpus_text': 'text_v',
                                                   'min_tokens': 42}),
        ],
    },
    'substr_decontaminate': {
        'need': ['benchmark', 'corpus'],
        'options': {'bench_id': 'bench_id_v', 'bench_text': 'bench_text_v',
                    'benchmark': 'benchmark_v', 'corpus': 'corpus_v', 'id': 'id_v',
                    'min_tokens': '42', 'text': 'text_v'},
        'required': [
            ('substr.substr_decontaminate', {'corpus': ('table', 'corpus_v'),
                                            'benchmark': ('table', 'benchmark_v'),
                                            'id_col': 'doc_id', 'text_col': 'text',
                                            'bench_id': 'bench_id', 'bench_text': 'text',
                                            'min_tokens': 8}),
        ],
        'all': [
            ('substr.substr_decontaminate', {'corpus': ('table', 'corpus_v'),
                                            'benchmark': ('table', 'benchmark_v'),
                                            'id_col': 'id_v', 'text_col': 'text_v',
                                            'bench_id': 'bench_id_v',
                                            'bench_text': 'bench_text_v', 'min_tokens': 42}),
        ],
    },
    'substr_dedup': {
        'need': ['input'],
        'options': {'detect': 'fuzzy', 'id': 'id_v', 'input': 'input_v', 'min_tokens': '42',
                    'score': 'score_v', 'text': 'text_v'},
        'required': [
            ('substr.substr_dedup', {'df': ('table', 'input_v'), 'id_col': 'doc_id',
                                    'text_col': 'text', 'min_tokens': 8, 'score_col': None,
                                    'detect': 'exact'}),
        ],
        'all': [
            ('substr.substr_dedup', {'df': ('table', 'input_v'), 'id_col': 'id_v',
                                    'text_col': 'text_v', 'min_tokens': 42,
                                    'score_col': 'score_v', 'detect': 'fuzzy'}),
        ],
    },
    'substr_spans': {
        'need': ['input'],
        'options': {'detect': 'fuzzy', 'id': 'id_v', 'input': 'input_v', 'min_tokens': '42',
                    'text': 'text_v'},
        'required': [
            ('substr.substr_duplicate_spans', {'df': ('table', 'input_v'),
                                              'id_col': 'doc_id', 'text_col': 'text',
                                              'min_tokens': 8, 'detect': 'exact'}),
        ],
        'all': [
            ('substr.substr_duplicate_spans', {'df': ('table', 'input_v'), 'id_col': 'id_v',
                                              'text_col': 'text_v', 'min_tokens': 42,
                                              'detect': 'fuzzy'}),
        ],
    },
    'temperature_sample': {
        'need': ['input'],
        'options': {'alpha': '29', 'budget': '30', 'id': 'id_v', 'input': 'input_v',
                    'strata': 'strata_v'},
        'required': [
            ('pipeline.temperature_sample', {'df': ('table', 'input_v'),
                                            'strata_col': 'lang', 'id_col': 'doc_id',
                                            'alpha': 0.5, 'budget_frac': 0.5}),
        ],
        'all': [
            ('pipeline.temperature_sample', {'df': ('table', 'input_v'),
                                            'strata_col': 'strata_v', 'id_col': 'id_v',
                                            'alpha': 29.0, 'budget_frac': 30.0}),
        ],
    },
    'tfidf_keywords': {
        'need': ['input'],
        'options': {'id': 'id_v', 'input': 'input_v', 'text': 'text_v', 'top_n': '12'},
        'required': [
            ('search.tfidf_keywords', {'df': ('table', 'input_v'), 'top_n': 3,
                                      'id_col': 'doc_id', 'text_col': 'text'}),
        ],
        'all': [
            ('search.tfidf_keywords', {'df': ('table', 'input_v'), 'top_n': 12,
                                      'id_col': 'id_v', 'text_col': 'text_v'}),
        ],
    },
    'token_fertility': {
        'need': ['group', 'input'],
        'options': {'group': 'length(text)', 'input': 'input_v', 'text': 'text_v'},
        'required': [
            ('bpe.token_fertility', {'df': ('table', 'input_v'), 'group_col': 'length(text)',
                                    'text_col': 'text', 'merges': None}),
        ],
        'all': [
            ('bpe.token_fertility', {'df': ('table', 'input_v'), 'group_col': 'length(text)',
                                    'text_col': 'text_v', 'merges': None}),
        ],
    },
    'topk_per_key': {
        'need': ['input', 'keys', 'order'],
        'options': {'ascending': 'true', 'input': 'input_v', 'k': '11', 'keys': 'k1,k2',
                    'order': 'order_v', 'salt': '40'},
        'required': [
            ('scale.salted_topk', {'df': ('table', 'input_v'), 'key_cols': ['k1', 'k2'],
                                  'order_col': 'order_v', 'k': 10, 'ascending': False,
                                  'salt': 16}),
        ],
        'all': [
            ('scale.salted_topk', {'df': ('table', 'input_v'), 'key_cols': ['k1', 'k2'],
                                  'order_col': 'order_v', 'k': 11, 'ascending': True,
                                  'salt': 40}),
        ],
    },
    'training_shards': {
        'need': ['input'],
        'options': {'id': 'id_v', 'input': 'input_v', 'shards': '26'},
        'required': [
            ('pipeline.training_shards', {'df': ('table', 'input_v'), 'id_col': 'doc_id',
                                         'n_shards': 1024}),
        ],
        'all': [
            ('pipeline.training_shards', {'df': ('table', 'input_v'), 'id_col': 'id_v',
                                         'n_shards': 26}),
        ],
    },
    'triplet_mine': {
        'need': ['input'],
        'options': {'id': 'id_v', 'ids': '3,5', 'input': 'input_v', 'label': 'label_v',
                    'vec': 'vec_v'},
        'required': [
            ('similarity.triplet_mine', {'df': ('table', 'input_v'), 'query_ids': [0],
                                        'id_col': 'vec_id', 'vec_col': 'embedding',
                                        'label_col': 'label'}),
        ],
        'all': [
            ('similarity.triplet_mine', {'df': ('table', 'input_v'), 'query_ids': [3, 5],
                                        'id_col': 'id_v', 'vec_col': 'vec_v',
                                        'label_col': 'label_v'}),
        ],
    },
    'vector_topk': {
        'need': ['index', 'input'],
        'options': {'base': 'base_v', 'index': 'idx1', 'input': 'input_v', 'k': '11',
                    'nprobe': '23', 'rerank': '24'},
        'required': [
            ('vecindex.index_topk', {'spark': 'SPARK', 'path': '/indexes/idx1',
                                    'queries': ('table', 'input_v'), 'k': 10, 'nprobe': 3,
                                    'rerank': None, 'base': None}),
        ],
        'all': [
            ('vecindex.index_topk', {'spark': 'SPARK', 'path': '/indexes/idx1',
                                    'queries': ('table', 'input_v'), 'k': 11, 'nprobe': 23,
                                    'rerank': 24, 'base': ('table', 'base_v')}),
        ],
    },
    'weighted_sample': {
        'need': ['input'],
        'options': {'id': 'id_v', 'input': 'input_v', 'k': '11', 'weight': 'weight_v'},
        'required': [
            ('pipeline.weighted_sample', {'df': ('table', 'input_v'), 'id_col': 'doc_id',
                                         'weight_col': 'n_chars', 'k': 100}),
        ],
        'all': [
            ('pipeline.weighted_sample', {'df': ('table', 'input_v'), 'id_col': 'id_v',
                                         'weight_col': 'weight_v', 'k': 11}),
        ],
    },
}
